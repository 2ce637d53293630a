"""Driver-facing query catalog: Spark builder + DuckDB oracle per query.

Each entry exercises operators from SURVEY §2 on the synthetic catalog
(TESTDATA.md). The AIS-shaped pipeline (rollup → co-movement pairs →
lifetime summary → track export) runs against ``events`` with a
deterministic position derivation, so the *same* gold semantics the
reference computes on vessel positions are verified end-to-end by the
DuckDB differential oracle.

Cross-engine determinism rules used throughout:
- every float aggregate is ``round(x, n)`` in BOTH engines;
- every integer output is BIGINT in both engines;
- every rank/top-k has a total-order tiebreak;
- hashes are md5/sha2-derived (identical everywhere);
- vector math folds left-to-right in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from knot_another_pipeline_spark.functions.geo import grid_cell, valid_coords
from knot_another_pipeline_spark.functions.hashing import stable_bucket
from knot_another_pipeline_spark.functions.partitioning import fan_out_small_scan
from knot_another_pipeline_spark.functions.timestamps import normalize_timestamp
from knot_another_pipeline_spark.operators import relational
from knot_another_pipeline_spark.operators.dedup import (
    exact_dedup,
    latest_row_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_similarity,
    ngram_jaccard_pairs,
    shingle_table,
    simhash,
)
from knot_another_pipeline_spark.operators.pairs import co_movement_pairs, pairs_total
from knot_another_pipeline_spark.operators.quality import daily_counts
from knot_another_pipeline_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from knot_another_pipeline_spark.operators.text_analysis import (
    detect_language,
    quality_features,
    STOPWORDS,
)
from knot_another_pipeline_spark.operators.tracks import assemble_paths, export_tracks
from knot_another_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# AIS-analog position derivation over `events`
#
# user_id ≈ vessel id, ts ≈ position report time; a deterministic
# projection of `value` yields lat/lon (some lat > 90 on purpose so the
# coordinate-validity filter P6 has work to do).
# --------------------------------------------------------------------------

_LAT_SQL = "(value / 490.0) * 180.0 - 90.0"
_LON_SQL = "fmod(value * 2.5, 360.0) - 180.0"


def _positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("uid", F.col("user_id").cast("string"))
        .withColumn("lat", (F.col("value") / 490.0) * 180.0 - 90.0)
        .withColumn("lon", F.col("value") * 2.5 % 360.0 - 180.0)
        .filter(valid_coords(F.col("lat"), F.col("lon")))
    )


_POSITIONS_SQL = f"""
  SELECT *, CAST(user_id AS VARCHAR) AS uid,
         {_LAT_SQL} AS lat, {_LON_SQL} AS lon
  FROM events
  WHERE {_LAT_SQL} BETWEEN -90.0 AND 90.0
    AND {_LON_SQL} BETWEEN -180.0 AND 180.0
"""

# grid_cell oracle mirror (res 7): fixed 15-hex-char cell address
_CELL_SIZE_7 = 1.4080 / 2.0**7


def _cell_sql(lat_expr: str, lon_expr: str) -> str:
    return (
        "concat(lpad(lower(to_hex(7)), 1, '0'), "
        f"lpad(lower(to_hex(CAST(floor(({lat_expr} + 90.0) / {_CELL_SIZE_7!r}) AS BIGINT))), 7, '0'), "
        f"lpad(lower(to_hex(CAST(floor(({lon_expr} + 180.0) / {_CELL_SIZE_7!r}) AS BIGINT))), 7, '0'))"
    )


# --------------------------------------------------------------------------
# 1. AIS gold pipeline on events
# --------------------------------------------------------------------------


def q_ais_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference `uid_hourly_h3` (A1+A2): per-(uid, hour) rollup with a
    grid-cell address computed from the averaged position."""
    pos = _positions(spark, sf_dir)
    return (
        pos.groupBy("uid", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(
            F.round(F.avg("lat"), 4).alias("avg_lat"),
            F.round(F.avg("lon"), 4).alias("avg_lon"),
            F.count(F.lit(1)).alias("message_count"),
            F.round(F.avg(F.col("value") / 10.0), 4).alias("avg_sog"),
            F.count(F.lit(1)).alias("source_row_count"),
        )
        .withColumn("h3_index", grid_cell(F.col("avg_lat"), F.col("avg_lon"), 7))
        .withColumn("dt", F.to_date("hour_ts"))
        .withColumn("hour", F.hour("hour_ts").cast("bigint"))
        .select(
            F.col("uid").alias("mmsi"), "hour_ts", "avg_lat", "avg_lon",
            "h3_index", "message_count", "avg_sog", "source_row_count",
            "dt", "hour",
        )
    )


ORACLE_AIS_HOURLY = f"""
WITH pos AS ({_POSITIONS_SQL}),
agg AS (
  SELECT uid, date_trunc('hour', ts) AS hour_ts,
         round(avg(lat), 4) AS avg_lat, round(avg(lon), 4) AS avg_lon,
         count(*) AS message_count,
         round(avg(value / 10.0), 4) AS avg_sog,
         count(*) AS source_row_count
  FROM pos GROUP BY 1, 2)
SELECT uid AS mmsi, hour_ts, avg_lat, avg_lon,
       {_cell_sql('avg_lat', 'avg_lon')} AS h3_index,
       message_count, avg_sog, source_row_count,
       CAST(hour_ts AS DATE) AS dt, CAST(extract(hour FROM hour_ts) AS BIGINT) AS hour
FROM agg
"""

# Daily rollup feeding the pairs pipeline: coarse "cell" from the day's
# average value (10 buckets) so co-location is dense enough to be
# interesting at sf0.01.
_DAILY_ROLLUP_SQL = f"""
  SELECT user_id AS uid,
         date_trunc('day', ts) AS window_ts,
         concat('c', CAST(CAST(floor(round(avg(value), 4) / 50.0) AS BIGINT) AS VARCHAR)) AS cell
  FROM events GROUP BY 1, 2
"""


def _daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # uid stays BIGINT end-to-end: long group/join keys hash and compare
    # ~40% faster than strings through the pair aggregation at sf0.1, and
    # the oracle mirrors the numeric `<` pair orientation.
    return (
        ev.groupBy(
            F.col("user_id").alias("uid"),
            F.date_trunc("day", "ts").alias("window_ts"),
        )
        .agg(F.round(F.avg("value"), 4).alias("avg_value"))
        .withColumn(
            "cell",
            F.concat(
                F.lit("c"),
                F.floor(F.col("avg_value") / 50.0).cast("bigint").cast("string"),
            ),
        )
        .drop("avg_value")
    )


def _pairs_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `pairs_daily`-analog table. Deliberately NOT `.cache()`d:
    the rollup feeds four subplans (join side a, join side b, and the
    per-entity stats joined as ua/ub), but those subtrees end in
    identical shuffles, so physical-plan ReuseExchange materializes the
    aggregation once — measured at sf0.1 the cached variant is ~2.5×
    *slower* end-to-end (cache-block writes + storage-memory pressure)
    and a leaked session-lifetime cache degrades every later
    Arrow/Python stage in the same session. At warehouse scale the
    multi-consumer answer is a materialized gold table
    (plans/gold_refresh.py), not executor cache."""
    roll = _daily_rollup(spark, sf_dir)
    return co_movement_pairs(
        roll,
        uid_col="uid",
        window_col="window_ts",
        cell_col="cell",
        period=F.to_date(F.date_trunc("month", F.col("window_ts"))),
        min_shared_cells=1,
    )


def q_pairs_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference `pairs_daily` (J1+J2+A3+A4+P14-P18) at day-window/month-
    period grain: self equi-join on (period, window, cell) with uid_a <
    uid_b, distinct-counts, per-entity stats joined twice, overlap scores,
    gT > 1 filter."""
    pairs = _pairs_base(spark, sf_dir)
    return pairs.select(
        "uid_a", "uid_b", "day_date",
        F.col("hA").cast("bigint").alias("ha"),
        F.col("hB").cast("bigint").alias("hb"),
        F.col("gA").cast("bigint").alias("ga"),
        F.col("gB").cast("bigint").alias("gb"),
        F.col("hT").cast("bigint").alias("ht"),
        F.col("gT").cast("bigint").alias("gt"),
        F.round("temporal_o", 4).alias("temporal_o"),
        F.round("spatial_o", 4).alias("spatial_o"),
        F.round("gto", 4).alias("gto"),
    )


ORACLE_PAIRS_CTE = f"""
WITH roll AS ({_DAILY_ROLLUP_SQL}),
base AS (
  SELECT uid, CAST(date_trunc('month', window_ts) AS DATE) AS day_date,
         window_ts AS w, cell
  FROM roll),
colocated AS (
  SELECT a.uid AS uid_a, b.uid AS uid_b, a.day_date, a.w, a.cell
  FROM base a JOIN base b
    ON a.day_date = b.day_date AND a.w = b.w AND a.cell = b.cell
   AND a.uid < b.uid),
pair_day AS (
  SELECT uid_a, uid_b, day_date,
         count(DISTINCT w) AS ht, count(DISTINCT cell) AS gt
  FROM colocated GROUP BY 1, 2, 3),
stats AS (
  SELECT uid, day_date, count(*) AS win_cnt, count(DISTINCT cell) AS geo_cnt
  FROM base GROUP BY 1, 2),
scored AS (
  SELECT p.uid_a, p.uid_b, p.day_date,
         ua.win_cnt AS ha, ub.win_cnt AS hb,
         ua.geo_cnt AS ga, ub.geo_cnt AS gb,
         p.ht, p.gt,
         CAST(p.ht AS DOUBLE) / nullif(CAST(least(ua.win_cnt, ub.win_cnt) AS DOUBLE), 0.0) AS temporal_o,
         CAST(p.gt AS DOUBLE) / nullif(CAST(least(ua.geo_cnt, ub.geo_cnt) AS DOUBLE), 0.0) AS spatial_o
  FROM pair_day p
  JOIN stats ua ON p.uid_a = ua.uid AND p.day_date = ua.day_date
  JOIN stats ub ON p.uid_b = ub.uid AND p.day_date = ub.day_date
  WHERE p.gt > 1)
"""

ORACLE_PAIRS_MONTHLY = (
    ORACLE_PAIRS_CTE
    + """
SELECT uid_a, uid_b, day_date, ha, hb, ga, gb, ht, gt,
       round(temporal_o, 4) AS temporal_o,
       round(spatial_o, 4) AS spatial_o,
       round(0.5 * (temporal_o + spatial_o), 4) AS gto
FROM scored
"""
)


def _pairs_total_select(total: DataFrame) -> DataFrame:
    return total.select(
        "uid_a", "uid_b",
        F.col("total_days_observed").cast("bigint").alias("total_days_observed"),
        F.col("days_with_gto_above_0_4").cast("bigint").alias("days_with_gto_above_0_4"),
        F.round("max_gto", 4).alias("max_gto"),
        F.round("min_gto", 4).alias("min_gto"),
        F.round("avg_gto", 4).alias("avg_gto"),
        F.round("median_gto", 4).alias("median_gto"),
    )


def q_pairs_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference `pairs_total` (A5): lifetime pair summary with exact
    median (deterministic across engines, where the reference takes
    approx_percentile).

    Self-contained (recomputes the pairs chain) so the DuckDB oracle can
    mirror it from the raw tables. For the warehouse shape — aggregate
    over an already-materialized pairs_daily — see
    ``stage_pairs_daily`` + ``q_pairs_total_from_table`` (what
    plans/gold_refresh.py does, and what bench.py times)."""
    pairs = _pairs_base(spark, sf_dir)
    return _pairs_total_select(pairs_total(pairs))


def stage_pairs_daily(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the pairs_daily-analog table as parquet — the staged
    warehouse shape (reference keeps `pairs_daily` as a gold table and
    builds `pairs_total` FROM it, create_pairs_total.sql; mirrored by
    plans/gold_refresh.py's read-back of the materialized table)."""
    _pairs_base(spark, sf_dir).write.mode("overwrite").parquet(path)


def q_pairs_total_from_table(spark: SparkSession, pairs_path: str) -> DataFrame:
    """`pairs_total` over a materialized pairs_daily table: times/costs
    only the lifetime aggregate, not a re-run of the upstream chain."""
    pairs = spark.read.parquet(pairs_path)
    return _pairs_total_select(pairs_total(pairs))


ORACLE_PAIRS_TOTAL = (
    ORACLE_PAIRS_CTE
    + """
, pairs AS (
  SELECT uid_a, uid_b, day_date,
         0.5 * (temporal_o + spatial_o) AS gto
  FROM scored)
SELECT uid_a, uid_b,
       count(DISTINCT day_date) AS total_days_observed,
       CAST(sum(CASE WHEN gto >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS days_with_gto_above_0_4,
       round(max(gto), 4) AS max_gto,
       round(min(gto), 4) AS min_gto,
       round(avg(gto), 4) AS avg_gto,
       round(CAST(median(gto) AS DOUBLE), 4) AS median_gto
FROM pairs GROUP BY 1, 2
"""
)


def q_track_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference cohort track extract (J3+P6+P9+O1): VALUES-cohort filter,
    inclusive time bounds, valid coordinates, ordered output.

    Scan-level pruning: the cohort filter runs against the *typed*
    user_id before the reference's to-string cast (a cast in the
    predicate blocks parquet In-pushdown), and the time bounds load
    through the raw-nanos sliced reader — both reach the parquet scan;
    `export_tracks` then re-applies the exact string/timestamp
    predicates for reference semantics."""
    from knot_another_pipeline_spark.sources.tables import load_events_time_sliced

    pos = (
        load_events_time_sliced(
            spark, sf_dir, "2024-01-05 00:00:00", "2024-01-20 00:00:00"
        )
        .filter(F.col("user_id").isin([3, 7, 11, 42]))
        .select(
            F.col("user_id").cast("string").alias("uid"),
            F.col("ts"),
            ((F.col("value") / 490.0) * 180.0 - 90.0).alias("lat"),
            (F.col("value") * 2.5 % 360.0 - 180.0).alias("lon"),
        )
    )
    return export_tracks(
        pos,
        uid_col="uid",
        ts_col="ts",
        lat_col="lat",
        lon_col="lon",
        uids=["3", "7", "11", "42"],
        start="2024-01-05 00:00:00",
        stop="2024-01-20 00:00:00",
    ).select(
        "uid", "event_ts",
        F.round("latitude", 6).alias("latitude"),
        F.round("longitude", 6).alias("longitude"),
    )


ORACLE_TRACK_EXPORT = f"""
WITH pos AS (
  SELECT CAST(user_id AS VARCHAR) AS uid, ts,
         {_LAT_SQL} AS lat, {_LON_SQL} AS lon
  FROM events)
SELECT uid, ts AS event_ts,
       round(lat, 6) AS latitude, round(lon, 6) AS longitude
FROM pos
WHERE uid IN ('3', '7', '11', '42')
  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-20 00:00:00'
  AND lat BETWEEN -90.0 AND 90.0 AND lon BETWEEN -180.0 AND 180.0
"""


def q_track_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path assembly (A11): per-track ordered point array; surfaced as
    (uid, npts, start_ts, end_ts) for engine-agnostic comparison."""
    pos = _positions(spark, sf_dir)
    paths = assemble_paths(
        pos, uid_col="uid", ts_col="ts", lat_col="lat", lon_col="lon", min_points=2
    )
    return paths.select(
        "uid",
        F.col("npts").cast("bigint").alias("npts"),
        F.element_at("path", 1)["ts"].alias("start_ts"),
        F.element_at("path", -1)["ts"].alias("end_ts"),
    )


ORACLE_TRACK_PATHS = f"""
WITH pos AS ({_POSITIONS_SQL})
SELECT uid, count(*) AS npts, min(ts) AS start_ts, max(ts) AS end_ts
FROM pos GROUP BY uid HAVING count(*) > 2
"""


def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer dedup window (data_contracts.md:113): latest row per
    (user, event_type) with a deterministic tiebreak."""
    ev = load_table(spark, sf_dir, "events")
    return latest_row_dedup(
        ev, ["user_id", "event_type"], "ts", tiebreak="event_id"
    ).select("user_id", "event_type", "ts", "event_id")


ORACLE_DEDUP_LATEST = """
SELECT user_id, event_type, ts, event_id FROM (
  SELECT user_id, event_type, ts, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) WHERE rn = 1
"""


def q_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ preview (A7): per-day counts, ordered, limited."""
    ev = load_table(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    return daily_counts(ev, "d", limit=5)


ORACLE_DAILY_COUNTS = """
SELECT CAST(ts AS DATE) AS dt, count(*) AS row_count
FROM events GROUP BY 1 ORDER BY dt LIMIT 5
"""


def q_normalize_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiered timestamp normalizer (P3): render each event's timestamp in
    one of four spellings (plain / T / trailing-Z / +00:00 offset) by
    user_id % 4, re-parse with the normalizer; the oracle asserts the
    round-trip equals the second-truncated original."""
    ev = load_table(spark, sf_dir, "events")
    base = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    variant = (
        F.when(F.col("user_id") % 4 == 0, base)
        .when(F.col("user_id") % 4 == 1, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(F.col("user_id") % 4 == 2, F.concat(base, F.lit("Z")))
        .otherwise(F.concat(base, F.lit("+00:00")))
    )
    return ev.select(
        "event_id", normalize_timestamp(variant).alias("parsed")
    )


ORACLE_NORMALIZE_TS = """
SELECT event_id, date_trunc('second', ts) AS parsed FROM events
"""


def q_stable_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver bucketing law (P12): sha256-derived stable bucket id,
    bit-exact with the reference's `_stable_hash` (ais_pipeline.py:532-535)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        stable_bucket(F.col("c_custkey"), 96).cast("bigint").alias("bucket_id"),
    )


ORACLE_STABLE_BUCKET = """
SELECT c_custkey,
       CAST((CAST(CAST(concat('0x', substr(sha256(CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT) * 4294967296
             + CAST(concat('0x', substr(sha256(CAST(c_custkey AS VARCHAR)), 9, 8)) AS BIGINT)) % 96 AS BIGINT) AS bucket_id
FROM customer
"""

# --------------------------------------------------------------------------
# 2. Relational operator coverage (star schema)
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.pricing_summary(load_table(spark, sf_dir, "lineitem"))


ORACLE_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.top_revenue_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        k=20,
    )


ORACLE_TOP_CUSTOMERS = """
WITH rev AS (
  SELECT l_orderkey, sum(l_extendedprice * (1 - l_discount)) AS order_revenue
  FROM lineitem GROUP BY 1)
SELECT c_custkey, c_name, round(sum(order_revenue), 2) AS revenue
FROM orders JOIN rev ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.regional_supplier_volume(
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


ORACLE_REGIONAL_VOLUME = """
SELECT r_name, n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS lineitem_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def q_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.customers_with_orders(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


ORACLE_CUSTOMERS_WITH_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.customers_without_orders(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


ORACLE_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = relational.top_order_per_customer(load_table(spark, sf_dir, "orders"), per=1)
    return out.select(
        "o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("bigint").alias("rn")
    )


ORACLE_TOP_ORDER_PER_CUSTOMER = """
SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) WHERE rn <= 1
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = relational.sessionize(
        load_table(spark, sf_dir, "events"), uid_col="user_id", ts_col="ts",
        gap_minutes=30,
    )
    return out.select(
        "uid", F.col("session_id").cast("bigint").alias("session_id"),
        "session_start", "session_end", "n_events",
    )


ORACLE_SESSIONIZE = """
WITH marked AS (
  SELECT user_id AS uid, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
sessions AS (
  SELECT uid, ts,
         sum(new_session) OVER (PARTITION BY uid ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked)
SELECT uid, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events
FROM sessions GROUP BY uid, session_id
"""


def q_event_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = relational.event_type_breakdown(load_table(spark, sf_dir, "events"))
    cols = [F.col("uid")] + [
        F.col(c).cast("bigint").alias(c) for c in out.columns if c != "uid"
    ]
    return out.select(*cols)


ORACLE_EVENT_BREAKDOWN = """
SELECT user_id AS uid,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
       count(*) AS n_total
FROM events GROUP BY user_id
"""


def q_user_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.user_set_ops(load_table(spark, sf_dir, "events"))


ORACLE_USER_SET_OPS = """
SELECT user_id AS uid FROM events WHERE event_type = 'purchase'
EXCEPT
SELECT user_id AS uid FROM events WHERE event_type = 'error'
"""


def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (A9; the reference's
    notebook quantile discovery)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


ORACLE_VALUE_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""

# --------------------------------------------------------------------------
# 3. Text analysis + dedup family (documents)
# --------------------------------------------------------------------------

_TOKS_SQL = r"""
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != '') AS t
  FROM documents
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features per document: char/token counts, token length,
    punctuation + stopword ratios, composite quality score."""
    docs = load_table(spark, sf_dir, "documents")
    out = quality_features(docs, id_col="doc_id", text_col="text", lang="en")
    return out.select(
        "id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "avg_token_len", "punct_ratio", "stopword_ratio", "quality_score",
    )


_EN_STOP_SQL = "['the','and','of','to','a','in','is','that','it','for']"

#: Shared per-doc metric CTE body (the DuckDB mirror of
#: text_analysis.quality_features' raw counts) — single source for every
#: quality-family oracle so query and oracle can't desynchronize.
_QUAL_M_SQL = rf"""
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(t, x -> list_contains({_EN_STOP_SQL}, x))) AS BIGINT) AS n_stop,
         CAST(length(regexp_replace(text, '[\p{{L}}\p{{N}}\s]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(length(regexp_replace(text, '\s+', '', 'g')) AS BIGINT) AS n_nospace
  FROM toks"""

#: Composite quality score over (n_tokens, stop_ratio, punct_ratio) —
#: mirror of quality_features' score expression.
_QUAL_SCORE_SQL = """round(least(n_tokens / 100.0, 1.0) * 0.4
               + least(stop_ratio * 5.0, 1.0) * 0.3
               + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.3, 4)"""


def _reasons_sql(min_tokens: int) -> str:
    """Failed-rule reason string over the *rounded* feature columns —
    mirror of text_analysis.quality_filter's rule list and order."""
    return f"""concat_ws(',',
           CASE WHEN n_tokens < {min_tokens} THEN 'too_few_tokens' END,
           CASE WHEN n_tokens > 100000 THEN 'too_many_tokens' END,
           CASE WHEN avg_token_len < 3.0 OR avg_token_len > 10.0 THEN 'avg_token_len_out_of_range' END,
           CASE WHEN punct_ratio > 0.2 THEN 'punct_ratio_high' END,
           CASE WHEN stop_ratio < 0.02 THEN 'stopword_ratio_low' END)"""


ORACLE_TEXT_STATS = rf"""
WITH toks AS ({_TOKS_SQL}),
m AS ({_QUAL_M_SQL}),
r AS (
  SELECT doc_id, n_chars, n_tokens,
         CASE WHEN n_tokens > 0 THEN CAST(n_nospace AS DOUBLE) / n_tokens ELSE 0.0 END AS avg_token_len,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio
  FROM m)
SELECT doc_id AS id, n_chars, n_tokens,
       round(avg_token_len, 4) AS avg_token_len,
       round(punct_ratio, 4) AS punct_ratio,
       round(stop_ratio, 4) AS stopword_ratio,
       {_QUAL_SCORE_SQL} AS quality_score
FROM r
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID (argmax of per-language scores,
    deterministic tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    return detect_language(docs, id_col="doc_id", text_col="text")


def _lang_score_sql(lang: str) -> str:
    words = STOPWORDS[lang]
    if lang == "zh":
        hits = " + ".join(
            f"CAST(length(text) - length(replace(text, '{w}', '')) AS DOUBLE)"
            for w in words
        )
        return (
            f"SELECT doc_id, 'zh' AS lang, CASE WHEN length(text) > 0 THEN ({hits}) / length(text) "
            "ELSE 0.0 END AS score FROM toks"
        )
    arr = "[" + ",".join(f"'{w}'" for w in words) + "]"
    return (
        f"SELECT doc_id, '{lang}' AS lang, CASE WHEN len(t) > 0 THEN "
        f"CAST(len(list_filter(t, x -> list_contains({arr}, x))) AS DOUBLE) / len(t) "
        "ELSE 0.0 END AS score FROM toks"
    )


ORACLE_LANG_ID = (
    f"WITH toks AS ({_TOKS_SQL}),\nscores AS (\n  "
    + "\n  UNION ALL\n  ".join(_lang_score_sql(lang) for lang in sorted(STOPWORDS))
    + """
),
ranked AS (
  SELECT doc_id, lang, round(score, 6) AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(score, 6) DESC, lang DESC) AS rn
  FROM scores)
SELECT doc_id AS id, lang AS detected_lang, score AS lang_score
FROM ranked WHERE rn = 1
"""
)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition signals per document: duplicate-line fraction +
    most-frequent word-2-gram fraction — zero-shuffle expression folds
    (operators.text_analysis.repetition_stats)."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        repetition_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repetition_stats(docs, id_col="doc_id", text_col="text")


ORACLE_REPETITION_STATS = rf"""
WITH toks AS ({_TOKS_SQL}),
b AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x != '') AS lines,
         CASE WHEN len(t) >= 2
              THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
              ELSE CAST([] AS VARCHAR[]) END AS g
  FROM toks),
gr AS (SELECT doc_id, unnest(g) AS gram FROM b),
gc AS (SELECT doc_id, gram, count(*) AS c FROM gr GROUP BY 1, 2),
topc AS (SELECT doc_id, max(c) AS top_c FROM gc GROUP BY 1)
SELECT b.doc_id AS id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       round(CASE WHEN len(lines) > 0
                  THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) / len(lines)
                  ELSE 0.0 END, 4) AS dup_line_frac,
       CAST(len(g) AS BIGINT) AS n_2grams,
       CAST(coalesce(top_c, 0) AS BIGINT) AS top_2gram_cnt,
       round(CASE WHEN len(g) > 0
                  THEN CAST(coalesce(top_c, 0) AS DOUBLE) / len(g)
                  ELSE 0.0 END, 4) AS top_2gram_frac
FROM b LEFT JOIN topc USING (doc_id)
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style keep/drop verdict with failed-rule reasons
    (min_tokens tuned to the synthetic corpus's 10-99 token range so the
    fixture exercises both verdicts)."""
    from knot_another_pipeline_spark.operators.text_analysis import quality_filter

    docs = load_table(spark, sf_dir, "documents")
    return quality_filter(
        docs, id_col="doc_id", text_col="text", lang="en", min_tokens=20
    )


#: Rounded-feature CTE (thresholds apply to the rounded values, exactly
#: as quality_filter consumes quality_features' rounded outputs).
_QUAL_F_SQL = """
  SELECT doc_id, n_tokens,
         round(CASE WHEN n_tokens > 0 THEN CAST(n_nospace AS DOUBLE) / n_tokens ELSE 0.0 END, 4) AS avg_token_len,
         round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END, 4) AS punct_ratio,
         round(CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END, 4) AS stop_ratio
  FROM m"""

ORACLE_QUALITY_FILTER = f"""
WITH toks AS ({_TOKS_SQL}),
m AS ({_QUAL_M_SQL}),
f AS ({_QUAL_F_SQL}),
v AS (
  SELECT doc_id, n_tokens,
         {_reasons_sql(20)} AS reasons
  FROM f)
SELECT doc_id AS id, n_tokens, reasons = '' AS keep, reasons
FROM v
"""


def _stable_bucket_sql(expr: str, n: int) -> str:
    """DuckDB mirror of ``functions.hashing.stable_bucket`` for an
    arbitrary SQL expression (sha256 first-64-bits mod n, via HUGEINT)."""
    h = f"sha256(CAST({expr} AS VARCHAR))"
    return (
        f"CAST((CAST(CAST(concat('0x', substr({h}, 1, 8)) AS BIGINT) AS HUGEINT)"
        f" * 4294967296 + CAST(concat('0x', substr({h}, 9, 8)) AS BIGINT))"
        f" % {n} AS BIGINT)"
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% corpus sample keyed on the stable sha256 bucket —
    map-side filter, reproducible at any scale and across reruns
    (operators.sampling.hash_sample)."""
    from knot_another_pipeline_spark.operators.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, id_col="doc_id", percent=10).select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )


ORACLE_HASH_SAMPLE = f"""
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE {_stable_bucket_sql('doc_id', 100)} < 10
"""


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 90/5/5 train/val/test assignment by stable bucket
    ranges — rows never migrate between splits across reruns or appends
    (operators.sampling.split_by_hash)."""
    from knot_another_pipeline_spark.operators.sampling import split_by_hash

    docs = load_table(spark, sf_dir, "documents")
    out = split_by_hash(
        docs, id_col="doc_id", weights={"train": 90, "val": 5, "test": 5}
    )
    return out.select("doc_id", "split")


ORACLE_SPLIT_ASSIGN = f"""
SELECT doc_id,
       CASE WHEN {_stable_bucket_sql('doc_id', 100)} < 90 THEN 'train'
            WHEN {_stable_bucket_sql('doc_id', 100)} < 95 THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-ordered selection up to a 10k-token budget via the
    distributed prefix-sum (per-score totals → tiny offset window →
    partitioned within-score cumsum; no global single-partition window —
    operators.sampling.token_budget_select)."""
    from knot_another_pipeline_spark.operators.sampling import (
        token_budget_select,
    )
    from knot_another_pipeline_spark.operators.text_analysis import (
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(docs, id_col="doc_id", text_col="text", lang="en")
    return token_budget_select(
        feats,
        id_col="id",
        score_col="quality_score",
        token_col="n_tokens",
        budget=10_000,
    )


ORACLE_TOKEN_BUDGET = rf"""
WITH toks AS ({_TOKS_SQL}),
m AS ({_QUAL_M_SQL}),
r AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio
  FROM m),
q AS (
  SELECT doc_id AS id,
         {_QUAL_SCORE_SQL} AS score,
         n_tokens
  FROM r),
c AS (
  SELECT id, score, n_tokens,
         CAST(sum(n_tokens) OVER (
           ORDER BY score DESC, id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM q)
SELECT id, score, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 10000
"""


def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced output sharding: id-ordered running token sum → shard
    number every ~2000 tokens (operators.sampling.assign_shards — range
    -bucketed distributed prefix-sum, no global single-partition
    window)."""
    from knot_another_pipeline_spark.operators.sampling import assign_shards
    from knot_another_pipeline_spark.operators.text_analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )
    return assign_shards(
        toks, id_col="doc_id", token_col="n_tokens", tokens_per_shard=2_000
    ).select(F.col("id").alias("doc_id"), "n_tokens", "shard")


ORACLE_SHARD_ASSIGN = rf"""
WITH toks AS ({_TOKS_SQL}),
n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
           ORDER BY doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM n)
SELECT doc_id, n_tokens,
       CAST(floor((cum - n_tokens) / 2000.0) AS BIGINT) AS shard
FROM c
"""


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain data mixing: an independent greedy 1000-token budget
    per source, quality-ordered (operators.sampling.token_budget_by_group
    — the prefix-sum partitions by (source, score), so no group funnels
    through one task)."""
    from knot_another_pipeline_spark.operators.sampling import (
        token_budget_by_group,
    )
    from knot_another_pipeline_spark.operators.text_analysis import (
        quality_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(
        docs, id_col="doc_id", text_col="text", lang="en"
    ).join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
    return token_budget_by_group(
        feats,
        group_col="source",
        id_col="id",
        score_col="quality_score",
        token_col="n_tokens",
        budget_per_group=1_000,
    )


ORACLE_DOMAIN_MIX = rf"""
WITH toks AS ({_TOKS_SQL}),
m AS ({_QUAL_M_SQL}),
r AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE) / n_chars ELSE 0.0 END AS punct_ratio
  FROM m),
q AS (
  SELECT d.source, qq.id, qq.score, qq.n_tokens
  FROM (SELECT doc_id AS id, {_QUAL_SCORE_SQL} AS score, n_tokens FROM r) qq
  JOIN documents d ON d.doc_id = qq.id),
c AS (
  SELECT source, id, score, n_tokens,
         CAST(sum(n_tokens) OVER (
           PARTITION BY source
           ORDER BY score DESC, id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
  FROM q)
SELECT source, id, score, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= 1000
"""


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused training-data preparation pipeline: quality-filter →
    exact-dedup (keep the min-id representative among survivors) →
    per-doc token counts for the kept set.

    Composition order is the scale decision: the cheap codegen quality
    verdict prunes FIRST (left-semi join, no row widening), so the
    fingerprint groupBy — the pipeline's only shuffle — moves survivors
    only. Output: id, fingerprint, group_size, n_tokens.
    """
    from knot_another_pipeline_spark.operators.dedup import exact_dedup
    from knot_another_pipeline_spark.operators.text_analysis import (
        quality_filter,
    )

    docs = load_table(spark, sf_dir, "documents")
    verdict = quality_filter(
        docs, id_col="doc_id", text_col="text", lang="en", min_tokens=20
    )
    # the verdict already tokenized every doc — reuse its n_tokens rather
    # than running the tokenizer a second time over the survivors
    kept_tokens = verdict.filter(F.col("keep")).select("id", "n_tokens")
    kept = docs.join(
        kept_tokens.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )
    reps = exact_dedup(kept, id_col="doc_id", text_col="text").filter(
        F.col("representative")
    )
    return reps.join(kept_tokens, "id").select(
        "id", "fingerprint",
        F.col("group_size").cast("bigint").alias("group_size"),
        "n_tokens",
    )


ORACLE_CORPUS_PREP = rf"""
WITH toks AS ({_TOKS_SQL}),
m AS ({_QUAL_M_SQL}),
f AS ({_QUAL_F_SQL}),
v AS (
  SELECT doc_id, n_tokens,
         {_reasons_sql(20)} AS reasons
  FROM f),
kept AS (SELECT doc_id, n_tokens FROM v WHERE reasons = ''),
fp AS (
  SELECT k.doc_id AS id, k.n_tokens,
         md5(trim(regexp_replace(regexp_replace(lower(d.text), '[^\p{{L}}\p{{N}}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
  FROM kept k JOIN documents d ON d.doc_id = k.doc_id),
g AS (SELECT fingerprint, count(*) AS group_size, min(id) AS keep_id
      FROM fp GROUP BY 1)
SELECT fp.id, fp.fingerprint, CAST(g.group_size AS BIGINT) AS group_size,
       fp.n_tokens
FROM fp JOIN g USING (fingerprint)
WHERE fp.id = g.keep_id
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by normalized-content fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    out = exact_dedup(docs, id_col="doc_id", text_col="text")
    return out.select(
        "id", "fingerprint",
        F.col("group_size").cast("bigint").alias("group_size"),
        "representative",
    )


ORACLE_EXACT_DEDUP = r"""
WITH fp AS (
  SELECT doc_id AS id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents),
g AS (
  SELECT fingerprint, count(*) AS group_size, min(id) AS keep_id
  FROM fp GROUP BY 1)
SELECT fp.id, fp.fingerprint, g.group_size, fp.id = g.keep_id AS representative
FROM fp JOIN g USING (fingerprint)
"""

_SHINGLES_SQL = r"""
  SELECT doc_id AS id, unnest(list_distinct(
           list_transform(range(1, greatest(len(t) - 1, 1)),
                          i -> array_to_string(list_slice(t, i, i + 2), ' ')))) AS shingle
  FROM toks WHERE len(t) >= 3
"""


# Carter-Wegman signature SQL shared by both minhash oracles: two 40-bit
# md5 base hashes per shingle, permutation j = h1 + j·h2, one min per j.
_SIG_SQL = (
    """
  SELECT id,
"""
    + ",\n".join(
        f"         min(h1 + {j} * h2) AS m{j}" for j in range(16)
    )
    + """
  FROM (
    SELECT id,
           CAST(concat('0x', substr(md5(concat('1:', shingle)), 1, 10)) AS BIGINT) AS h1,
           CAST(concat('0x', substr(md5(concat('2:', shingle)), 1, 10)) AS BIGINT) AS h2
    FROM sh)
  GROUP BY id
"""
)


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: 16 Carter-Wegman min-hashes per doc (wide)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3, distinct=False)
    return minhash_signatures(sh, num_hashes=16)


ORACLE_MINHASH_SIGNATURES = f"""
WITH toks AS ({_TOKS_SQL}),
sh AS ({_SHINGLES_SQL})
{_SIG_SQL}
"""


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates + estimated Jaccard. The signature table feeds
    three subplans (candidate generation + both sides of the scoring
    join): a lazy localCheckpoint pins it so the final signature
    aggregate runs once instead of per consumer (r11 interleaved A/B:
    −12% at sf0.1; an explicit `.cache()` had measured ~2× slower in
    an earlier round — it leaks storage-memory pressure into the rest
    of the session, which the checkpoint's one-shot RDD does not)."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3, distinct=False)
    sig = minhash_signatures(sh, num_hashes=16).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sig, bands=4, rows_per_band=4)
    sims = minhash_similarity(sig, cands, num_hashes=16)
    return sims.select(
        "id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard")
    )


def _band_bucket_sql(band: int, rows_per_band: int = 4) -> str:
    cols = ", ".join(
        f"CAST(m{band * rows_per_band + r} AS VARCHAR)"
        for r in range(rows_per_band)
    )
    return (
        f"SELECT id, {band} AS band, md5(concat_ws(',', {cols})) AS bucket FROM sig"
    )


ORACLE_MINHASH_PAIRS = (
    f"""
WITH toks AS ({_TOKS_SQL}),
sh AS ({_SHINGLES_SQL}),
sig AS ({_SIG_SQL}),
buckets AS (
  """
    + "\n  UNION ALL\n  ".join(_band_bucket_sql(b) for b in range(4))
    + """
),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
SELECT c.id_a, c.id_b,
       round(("""
    + " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(16)
    )
    + """) / 16.0, 4) AS est_jaccard
FROM cands c
JOIN sig sa ON sa.id = c.id_a
JOIN sig sb ON sb.id = c.id_b
"""
)


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard for pairs sharing ≥1 shingle,
    thresholded, with the stop-shingle document-frequency cap active
    (df ≤ 100) so a boilerplate shingle can never quadratic-blow the
    self-join."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3)
    out = ngram_jaccard_pairs(sh, min_jaccard=0.05, max_doc_freq=100)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


ORACLE_NGRAM_JACCARD = f"""
WITH toks AS ({_TOKS_SQL}),
sh0 AS ({_SHINGLES_SQL}),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.05
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per document."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, id_col="doc_id", text_col="text")


ORACLE_SIMHASH = r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_distinct(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != ''))) AS tok
  FROM documents),
h AS (
  SELECT id, CAST(concat('0x', substr(md5(concat('0:', tok)), 1, 15)) AS BIGINT) AS h
  FROM toks),
votes AS (
  SELECT id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN range(0, 64) b(bit)
  GROUP BY id, b.bit)
SELECT id,
       CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM votes GROUP BY id
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs: hamming-LSH banding (4×16-bit
    slices) + exact bit_count confirm at hamming ≤ 3 (recall-exact for
    that threshold by pigeonhole)."""
    from knot_another_pipeline_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    fps = simhash(docs, id_col="doc_id", text_col="text")
    return simhash_near_dup_pairs(fps, max_hamming=3, bands=4)


ORACLE_SIMHASH_PAIRS = r"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(list_distinct(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x != ''))) AS tok
  FROM documents),
h AS (
  SELECT id, CAST(concat('0x', substr(md5(concat('0:', tok)), 1, 15)) AS BIGINT) AS h
  FROM toks),
votes AS (
  SELECT id, b.bit,
         sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h CROSS JOIN range(0, 64) b(bit)
  GROUP BY id, b.bit),
sig AS (
  SELECT id,
         CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM votes GROUP BY id),
buckets AS (
  SELECT id, simhash, b.band,
         (simhash >> CAST(b.band * 16 AS BIGINT)) & 65535 AS bucket
  FROM sig CROSS JOIN range(0, 4) b(band)),
cands AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
SELECT id_a, id_b, hamming FROM cands WHERE hamming <= 3
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and BPE-ish subword
    units (word/number/punct regex) — both pure codegen expressions."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        bpe_ish_token_count,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("id"),
        token_count("text").cast("bigint").alias("n_ws_tokens"),
        bpe_ish_token_count("text").cast("bigint").alias("n_bpe_units"),
    )


ORACLE_TOKEN_COUNTS = rf"""
WITH toks AS ({_TOKS_SQL})
SELECT doc_id AS id,
       CAST(len(t) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '\p{{L}}+|\p{{N}}+|[^\p{{L}}\p{{N}}\s]')) AS BIGINT) AS n_bpe_units
FROM toks
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document fingerprint: md5 of punctuation/whitespace-normalized
    lowercase text (the exact-dedup key, exposed standalone)."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        fingerprint_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_documents(docs, id_col="doc_id", text_col="text")


ORACLE_DOC_FINGERPRINT = r"""
SELECT doc_id AS id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (k=8-char grams, window=4):
    the min gram-hash of every window survives; overlap between docs'
    fingerprint sets localizes shared passages."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, id_col="doc_id", text_col="text", k=8, window=4)


ORACLE_WINNOW_FINGERPRINT = r"""
WITH norm AS (
  SELECT doc_id AS id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
g AS (
  SELECT id, t, length(t) - 8 + 1 AS n_grams FROM norm
  WHERE length(t) - 8 + 1 >= 4),
grams AS (
  SELECT id, n_grams, CAST(p AS INTEGER) AS pos,
         CAST(concat('0x', substr(md5(substr(t, CAST(p AS INTEGER), 8)), 1, 10)) AS BIGINT) AS h
  FROM (SELECT id, t, n_grams, unnest(range(1, n_grams + 1)) AS p FROM g)),
wins AS (
  SELECT id, pos, n_grams,
         min(h) OVER (PARTITION BY id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp_hash
  FROM grams)
SELECT DISTINCT id, fp_hash FROM wins WHERE pos <= n_grams - 3
"""


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded multi-hyperplane LSH
    blocking (4 bands × 8 planes — equi-join on (band, bucket), never
    all-pairs) + exact cosine confirm at 0.35."""
    from knot_another_pipeline_spark.operators.dedup import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.35,
        dim=64, bands=4, rows_per_band=8,
    )
    return out.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )


def _planes_sql(num_planes: int, dim: int) -> str:
    """DuckDB CTE body mirroring ``similarity._hyperplane``: ±1 component
    d of plane p from the parity of md5('p:d')'s first 8 hex chars."""
    return f"""SELECT CAST(p AS INTEGER) AS p,
         list_transform(range(0, {dim}), d ->
           CASE WHEN CAST(concat('0x', substr(md5(concat(CAST(p AS VARCHAR),
                      ':', CAST(d AS VARCHAR))), 1, 8)) AS BIGINT) % 2 = 0
                THEN 1.0 ELSE -1.0 END) AS plane
  FROM range(0, {num_planes}) r(p)"""


def _band_buckets_sql(rows_per_band: int) -> str:
    """DuckDB CTE body mirroring ``similarity.hyperplane_band_keys``:
    per (vector, band), pack the sign bits of that band's planes with the
    first plane most significant. Expects CTEs ``e`` (vec_id, v) and
    ``planes`` in scope."""
    r = rows_per_band
    return f"""SELECT e.vec_id, CAST(pl.p // {r} AS INTEGER) AS band,
         CAST(sum(CASE WHEN list_dot_product(e.v, pl.plane) > 0
                       THEN CAST(power(2, {r - 1} - (pl.p % {r})) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM e CROSS JOIN planes pl
  GROUP BY e.vec_id, pl.p // {r}"""


ORACLE_EMBEDDING_DEDUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes AS ({_planes_sql(32, 64)}),
bukt AS ({_band_buckets_sql(8)}),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bukt a JOIN bukt b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT id_a, id_b,
       round(list_dot_product(x.v, y.v) / (x.nn * y.nn), 6) AS cos_sim
FROM cand JOIN n x ON x.vec_id = id_a JOIN n y ON y.vec_id = id_b
WHERE list_dot_product(x.v, y.v) / (x.nn * y.nn) >= 0.35
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus. The synthetic docs carry no PII, so
    both engines first append a deterministic doc_id-derived email + IP
    to every text — the scrub then has real matches to find and mask
    (operators.text_analysis.scrub_pii; patterns shared verbatim)."""
    from knot_another_pipeline_spark.operators.text_analysis import scrub_pii

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" user"), F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    return scrub_pii(docs, id_col="doc_id", text_col="text")


def _pii_oracle_sql() -> str:
    from knot_another_pipeline_spark.operators.text_analysis import PII_PATTERNS

    def q(pat: str) -> str:
        return pat.replace("'", "''")  # SQL string-literal escaping only

    masked = "text"
    for _, pat, token in PII_PATTERNS:
        masked = f"regexp_replace({masked}, '{q(pat)}', '{token}', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{q(pat)}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    return f"""
WITH aug AS (
  SELECT doc_id,
         concat(text, ' user', CAST(doc_id AS VARCHAR),
                '@example.com from 10.0.0.', CAST(doc_id % 256 AS VARCHAR)) AS text
  FROM documents)
SELECT doc_id AS id,
       {masked} AS text,
       {counts}
FROM aug
"""


ORACLE_PII_SCRUB = _pii_oracle_sql()


def q_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning at min_words=20: short docs lose their only
    line (empty text, dropped count 1), long docs keep theirs — both
    branches exercised on the single-line corpus
    (operators.text_analysis.clean_lines)."""
    from knot_another_pipeline_spark.operators.text_analysis import clean_lines

    docs = load_table(spark, sf_dir, "documents")
    return clean_lines(docs, id_col="doc_id", text_col="text", min_words=20)


ORACLE_CLEAN_LINES = r"""
WITH l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x != '') AS lines
  FROM documents),
k AS (
  SELECT doc_id, lines,
         list_filter(lines, ln ->
           len(list_filter(string_split_regex(ln, '\s+'), t -> t != '')) >= 20) AS keep
  FROM l)
SELECT doc_id AS id,
       coalesce(array_to_string(keep, chr(10)), '') AS text,
       CAST(len(keep) AS BIGINT) AS n_lines_kept,
       CAST(len(lines) - len(keep) AS BIGINT) AS n_lines_dropped
FROM k
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: the deterministic 2% bucket split
    (buckets 98-99) stands in for the eval set; every remaining training
    doc gets its exact 3-gram collision count against it
    (operators.dedup.contamination_check — eval shingles broadcast,
    corpus shingles never shuffle)."""
    from knot_another_pipeline_spark.functions.hashing import stable_bucket
    from knot_another_pipeline_spark.operators.dedup import contamination_check

    docs = load_table(spark, sf_dir, "documents")
    b = stable_bucket(F.col("doc_id").cast("string"), 100)
    return contamination_check(
        docs.filter(b < 98),
        docs.filter(b >= 98),
        id_col="doc_id",
        text_col="text",
        n=3,
        min_hits=1,
    )


ORACLE_CONTAMINATION = rf"""
WITH toks AS ({_TOKS_SQL}),
sh AS ({_SHINGLES_SQL}),
ev AS (SELECT DISTINCT shingle FROM sh
       WHERE {_stable_bucket_sql('id', 100)} >= 98),
train_ids AS (SELECT doc_id AS id FROM documents
              WHERE {_stable_bucket_sql('doc_id', 100)} < 98),
hits AS (
  SELECT s.id, count(*) AS eval_shingle_hits
  FROM sh s JOIN ev USING (shingle)
  WHERE {_stable_bucket_sql('s.id', 100)} < 98
  GROUP BY s.id)
SELECT t.id,
       CAST(coalesce(h.eval_shingle_hits, 0) AS BIGINT) AS eval_shingle_hits,
       coalesce(h.eval_shingle_hits, 0) >= 1 AS contaminated
FROM train_ids t LEFT JOIN hits h USING (id)
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate groups: connected components over the
    MinHash-LSH pair list via min-label propagation
    (operators.dedup.connected_components). The oracle computes the same
    components with a recursive-CTE transitive closure."""
    from knot_another_pipeline_spark.operators.dedup import connected_components

    pairs = q_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    return connected_components(pairs, src_col="id_a", dst_col="id_b")


def _oracle_components() -> str:
    return f"""
WITH RECURSIVE
mp AS (SELECT id_a, id_b FROM ({ORACLE_MINHASH_PAIRS}) q),
bidir(a, b) AS (SELECT id_a, id_b FROM mp UNION SELECT id_b, id_a FROM mp),
reach(a, b) AS (
  SELECT a, b FROM bidir
  UNION
  SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a
)
SELECT a AS id, least(a, min(b)) AS component
FROM reach GROUP BY a
"""


ORACLE_DEDUP_COMPONENTS = _oracle_components()


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicates: cluster embeddings around 16
    deterministic centroids, pairwise cosine >= 0.4 within clusters only
    (operators.dedup.semantic_dedup_pairs — never all-pairs)."""
    from knot_another_pipeline_spark.operators.dedup import semantic_dedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup_pairs(
        emb, id_col="vec_id", vec_col="embedding", num_clusters=16,
        threshold=0.4, unroll_dim=64,
    )
    return out.select(
        "id_a", "id_b",
        F.col("cell").cast("bigint").alias("cell"),
        F.round("cos_sim", 6).alias("cos_sim"),
    )


ORACLE_SEMANTIC_DEDUP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
cents AS (SELECT vec_id AS cent_id, v AS centv, nn AS centn
          FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
assigned AS (
  SELECT vec_id, v, nn, cell FROM (
    SELECT n.vec_id, n.v, n.nn, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, c.centv) / (n.nn * c.centn) DESC,
                      c.cent_id ASC) AS rn
    FROM n CROSS JOIN cents c) WHERE rn = 1)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(a.cell AS BIGINT) AS cell,
       round(list_dot_product(a.v, b.v) / (a.nn * b.nn), 6) AS cos_sim
FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nn * b.nn) >= 0.4
"""


# --------------------------------------------------------------------------
# 4. Similarity search (embeddings)
# --------------------------------------------------------------------------


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id < 8
    (broadcast queries × corpus scan; JVM-side fold arithmetic)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = cosine_topk(
        emb.filter(F.col("vec_id") < 8), emb, id_col="vec_id",
        vec_col="embedding", k=5,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )


ORACLE_KNN_BRUTEFORCE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e WHERE vec_id < 8),
c AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS n FROM e),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_dot_product(q.v, c.v) / (q.n * c.n) AS cos_sim
  FROM q CROSS JOIN c WHERE q.vec_id != c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 5
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via banded random-hyperplane LSH (4 bands × 8
    planes): candidates share any band's bucket, exact cosine re-ranks.
    The ±1 hyperplane components derive from md5(plane:dim), so the whole
    bucketing is reproducible in the DuckDB oracle — no rows-only
    fallback needed."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucket_topk(
        emb.filter(F.col("vec_id") < 8), emb, id_col="vec_id",
        vec_col="embedding", dim=64, bands=4, rows_per_band=8, k=5,
    ).select(
        "query_id", "neighbor_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )


ORACLE_ANN_LSH = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planes AS ({_planes_sql(32, 64)}),
bukt AS ({_band_buckets_sql(8)}),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
cand AS (
  SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
  FROM bukt a JOIN bukt b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id != b.vec_id
  WHERE a.vec_id < 8),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(q.v, t.v) / (q.nn * t.nn) AS cos_sim
  FROM cand c
  JOIN n q ON q.vec_id = c.query_id
  JOIN n t ON t.vec_id = c.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 5
"""

def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN: fixed-size deterministic centroid set (the 64
    vectors ranking lowest by md5(id) — corpus-size-independent, so the
    broadcast stays bounded), nprobe=2 Voronoi cells searched per query,
    exact re-rank within."""
    from knot_another_pipeline_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb.filter(F.col("vec_id") < 8), emb, id_col="vec_id",
        vec_col="embedding", num_centroids=64, nprobe=2, k=5,
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        F.col("rank").cast("bigint").alias("rank"),
    )


ORACLE_IVF_ANN = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
cents AS (SELECT vec_id AS cent_id, v AS centv, nn AS centn
          FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 64),
assigned AS (
  SELECT neighbor_id, cv, cn, cell FROM (
    SELECT n.vec_id AS neighbor_id, n.v AS cv, n.nn AS cn, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, c.centv) / (n.nn * c.centn) DESC,
                      c.cent_id ASC) AS rn
    FROM n CROSS JOIN cents c) WHERE rn = 1),
probes AS (
  SELECT query_id, qv, qn, cell FROM (
    SELECT q.vec_id AS query_id, q.v AS qv, q.nn AS qn, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.centv) / (q.nn * c.centn) DESC,
                      c.cent_id ASC) AS rn
    FROM n q CROSS JOIN cents c WHERE q.vec_id < 8) WHERE rn <= 2),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         list_dot_product(p.qv, a.cv) / (p.qn * a.cn) AS cos_sim
  FROM probes p JOIN assigned a
    ON p.cell = a.cell AND p.query_id != a.neighbor_id),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored)
SELECT query_id, neighbor_id, round(cos_sim, 6) AS cos_sim,
       CAST(rn AS BIGINT) AS rank
FROM ranked WHERE rn <= 5
"""


# --------------------------------------------------------------------------
# 5. Multimodal plumbing (binary payload → typed metadata via mapInPandas)
# --------------------------------------------------------------------------


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column → typed metadata through the Arrow-batched
    mapInPandas decode stage (deterministic fake decode — the Spark
    plumbing is the deliverable; see operators.multimodal)."""
    from knot_another_pipeline_spark.operators.multimodal import decode_media_meta

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return decode_media_meta(docs, id_col="doc_id", payload_col="payload")


ORACLE_MEDIA_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(64 + (length(text) % 193) AS BIGINT) AS width,
       CAST(64 + (CAST(concat('0x', substr(md5(text), 1, 4)) AS INTEGER) % 193) AS BIGINT) AS height,
       CAST(1 + (length(text) % 7) AS BIGINT) AS n_frames,
       substr(md5(text), 1, 1) AS fmt
FROM documents
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: binary video payload → one row per kept frame
    (every 2nd frame) through the row-expanding mapInPandas stage
    (operators.multimodal.sample_frames). The binary frame column stays
    inside the stage; only id/idx/digest are compared."""
    from knot_another_pipeline_spark.operators.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    frames = sample_frames(docs, id_col="doc_id", payload_col="payload", stride=2)
    return frames.select("doc_id", "frame_idx", "frame_md5")


# The fake decode derives n_frames = 1 + len % 7 and frame bytes =
# md5(payload || '-' || idx); both re-derivable in SQL because the corpus
# is ASCII (text == payload bytes).
ORACLE_MEDIA_FRAMES = """
SELECT d.doc_id,
       CAST(f.frame_idx AS BIGINT) AS frame_idx,
       md5(concat(d.text, '-', CAST(f.frame_idx AS VARCHAR))) AS frame_md5
FROM documents d,
     UNNEST(range(0, 1 + length(d.text) % 7, 2)) AS f(frame_idx)
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload → fixed-dim feature vector (the batched-inference
    slot); dims projected to flat columns for engine-to-engine value
    comparison."""
    from knot_another_pipeline_spark.operators.multimodal import extract_features

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    feats = extract_features(docs, id_col="doc_id", payload_col="payload")
    return feats.select(
        "doc_id",
        *[
            F.round(F.element_at("features", i + 1), 6).alias(f"f{i}")
            for i in range(8)
        ],
    )


ORACLE_MEDIA_FEATURES = """
SELECT doc_id,
       """ + ",\n       ".join(
    f"round(CAST(concat('0x', substr(md5(text), {4 * i + 1}, 4)) AS BIGINT) / 65535.0, 6) AS f{i}"
    for i in range(8)
) + """
FROM documents
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail rendition: payload truncated to the 16x16 byte budget
    through the payload-in/payload-out resize stage; compared on id,
    rendition size, and rendition digest."""
    from knot_another_pipeline_spark.operators.multimodal import resize_media

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    resized = resize_media(
        docs, id_col="doc_id", payload_col="payload", width=16, height=16
    )
    return resized.select("doc_id", "n_bytes", F.md5("payload").alias("rendition_md5"))


ORACLE_MEDIA_RESIZE = """
SELECT doc_id,
       CAST(least(length(text), 256) AS BIGINT) AS n_bytes,
       md5(substr(text, 1, 256)) AS rendition_md5
FROM documents
"""


def q_media_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing: payload → 64-byte windows advanced by 48 bytes
    (overlapping), one row per chunk through the row-expanding
    mapInPandas stage (operators.multimodal.chunk_audio). The synthetic
    corpus is ASCII, so the oracle's char-substrings mirror the engine's
    byte slices exactly."""
    from knot_another_pipeline_spark.operators.multimodal import chunk_audio

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    chunks = chunk_audio(
        docs, id_col="doc_id", payload_col="payload",
        chunk_bytes=64, hop_bytes=48,
    )
    return chunks.select(
        "doc_id", "chunk_idx", "start_byte", "n_bytes", "chunk_md5"
    )


ORACLE_MEDIA_CHUNKS = """
SELECT d.doc_id,
       CAST(c.i AS BIGINT) AS chunk_idx,
       CAST(c.i * 48 AS BIGINT) AS start_byte,
       CAST(least(64, length(d.text) - c.i * 48) AS BIGINT) AS n_bytes,
       md5(substr(d.text, CAST(c.i * 48 + 1 AS BIGINT), 64)) AS chunk_md5
FROM documents d,
     UNNEST(range(0, CAST(ceil(length(d.text) / 48.0) AS BIGINT))) AS c(i)
WHERE length(d.text) > 0
"""


# --------------------------------------------------------------------------
# 6. Data-quality reconciliation (reference `_run_data_checks`, A6)
# --------------------------------------------------------------------------


def q_contract_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's data contracts as one executable row of violation
    counts over the hourly gold table
    (`/root/reference/docs/data_contracts.md:85-98`): message_count > 0,
    coordinates in range, 15-hex-char cell address, hour_ts aligned to
    the hour, dt/hour consistent with hour_ts. All-zero counts ⇔
    `passed`."""
    h = q_ais_hourly(spark, sf_dir)
    zero = F.lit(0)
    viol = h.agg(
        F.count(F.lit(1)).alias("rows_checked"),
        F.sum(F.when(F.col("message_count") <= 0, 1).otherwise(zero)).alias(
            "bad_message_count"
        ),
        F.sum(
            F.when(
                ~(
                    F.col("avg_lat").between(-90.0, 90.0)
                    & F.col("avg_lon").between(-180.0, 180.0)
                ),
                1,
            ).otherwise(zero)
        ).alias("bad_coords"),
        F.sum(
            F.when(~F.col("h3_index").rlike("^[0-9a-f]{15}$"), 1).otherwise(zero)
        ).alias("bad_cell"),
        F.sum(
            F.when(F.date_trunc("hour", "hour_ts") != F.col("hour_ts"), 1).otherwise(
                zero
            )
        ).alias("bad_hour_align"),
        F.sum(
            F.when(
                (F.to_date("hour_ts") != F.col("dt"))
                | (F.hour("hour_ts").cast("bigint") != F.col("hour")),
                1,
            ).otherwise(zero)
        ).alias("bad_partition_keys"),
    )
    return viol.select(
        "rows_checked",
        "bad_message_count",
        "bad_coords",
        "bad_cell",
        "bad_hour_align",
        "bad_partition_keys",
        (
            (F.col("rows_checked") > 0)
            & (F.col("bad_message_count") == 0)
            & (F.col("bad_coords") == 0)
            & (F.col("bad_cell") == 0)
            & (F.col("bad_hour_align") == 0)
            & (F.col("bad_partition_keys") == 0)
        ).alias("passed"),
    )


ORACLE_CONTRACT_CHECKS = f"""
WITH h AS ({ORACLE_AIS_HOURLY})
SELECT CAST(count(*) AS BIGINT) AS rows_checked,
       CAST(sum(CASE WHEN message_count <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_message_count,
       CAST(sum(CASE WHEN NOT (avg_lat BETWEEN -90.0 AND 90.0 AND avg_lon BETWEEN -180.0 AND 180.0) THEN 1 ELSE 0 END) AS BIGINT) AS bad_coords,
       CAST(sum(CASE WHEN NOT regexp_matches(h3_index, '^[0-9a-f]{{15}}$') THEN 1 ELSE 0 END) AS BIGINT) AS bad_cell,
       CAST(sum(CASE WHEN date_trunc('hour', hour_ts) != hour_ts THEN 1 ELSE 0 END) AS BIGINT) AS bad_hour_align,
       CAST(sum(CASE WHEN CAST(hour_ts AS DATE) != dt OR CAST(extract(hour FROM hour_ts) AS BIGINT) != hour THEN 1 ELSE 0 END) AS BIGINT) AS bad_partition_keys,
       count(*) > 0 AND sum(CASE WHEN message_count <= 0 THEN 1 ELSE 0 END) = 0
         AND sum(CASE WHEN NOT (avg_lat BETWEEN -90.0 AND 90.0 AND avg_lon BETWEEN -180.0 AND 180.0) THEN 1 ELSE 0 END) = 0
         AND sum(CASE WHEN NOT regexp_matches(h3_index, '^[0-9a-f]{{15}}$') THEN 1 ELSE 0 END) = 0
         AND sum(CASE WHEN date_trunc('hour', hour_ts) != hour_ts THEN 1 ELSE 0 END) = 0
         AND sum(CASE WHEN CAST(hour_ts AS DATE) != dt OR CAST(extract(hour FROM hour_ts) AS BIGINT) != hour THEN 1 ELSE 0 END) = 0
         AS passed
FROM h
"""


def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword retrieval: top-10 documents for 'hash join filter'
    (operators.search.keyword_search — query-term postings only reach
    the shuffle, TakeOrdered top-k)."""
    from knot_another_pipeline_spark.operators.search import keyword_search

    docs = load_table(spark, sf_dir, "documents")
    return keyword_search(
        docs, id_col="doc_id", text_col="text", query="hash join filter",
        k=10,
    )


ORACLE_KEYWORD_SEARCH = rf"""
WITH toks AS ({_TOKS_SQL}),
posting AS (
  SELECT doc_id AS id, unnest(t) AS token FROM toks),
qt AS (SELECT unnest(['filter', 'hash', 'join']) AS token),
tf AS (
  SELECT p.id, p.token, count(*) AS tf
  FROM posting p JOIN qt USING (token)
  GROUP BY 1, 2),
dfreq AS (SELECT token, count(DISTINCT id) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.id,
         round(sum(tf.tf * ln(1 + CAST(n.n_docs AS DOUBLE) / df.df)), 6) AS score
  FROM tf JOIN dfreq df USING (token) CROSS JOIN n
  GROUP BY tf.id)
SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 10
"""


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile of the documents table (row/null/distinct
    counts, native-type min/max stringified) — one aggregation pass
    (operators.quality.profile_table)."""
    from knot_another_pipeline_spark.operators.quality import profile_table

    docs = load_table(spark, sf_dir, "documents")
    return profile_table(docs, ["doc_id", "lang", "source", "n_chars"])


ORACLE_TABLE_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM documents"""
    for c in ("doc_id", "lang", "source", "n_chars")
)


def q_dq_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's post-refresh reconciliation as one row: the hourly
    gold table's SUM(message_count)/SUM(source_row_count) must equal the
    filtered-silver row count (`refresh_gold_tables.py:472-558`)."""
    hourly = q_ais_hourly(spark, sf_dir)
    silver = _positions(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("silver_rows")
    )
    g = hourly.agg(
        F.count(F.lit(1)).alias("hourly_rows"),
        F.sum("message_count").alias("sum_message_count"),
        F.sum("source_row_count").alias("sum_source_rows"),
    )
    return g.crossJoin(silver).select(
        "hourly_rows",
        "sum_message_count",
        "sum_source_rows",
        "silver_rows",
        (F.col("sum_message_count") - F.col("silver_rows")).alias("delta_msg"),
        (F.col("sum_source_rows") - F.col("silver_rows")).alias("delta_src"),
        (
            (F.col("sum_message_count") == F.col("silver_rows"))
            & (F.col("sum_source_rows") == F.col("silver_rows"))
            & (F.col("hourly_rows") >= 1)
        ).alias("passed"),
    )


ORACLE_DQ_RECONCILE = f"""
WITH pos AS ({_POSITIONS_SQL}),
agg AS (
  SELECT uid, date_trunc('hour', ts) AS hour_ts,
         count(*) AS message_count, count(*) AS source_row_count
  FROM pos GROUP BY 1, 2),
g AS (
  SELECT count(*) AS hourly_rows,
         sum(message_count) AS sum_message_count,
         sum(source_row_count) AS sum_source_rows
  FROM agg),
s AS (SELECT count(*) AS silver_rows FROM pos)
SELECT hourly_rows,
       CAST(sum_message_count AS BIGINT) AS sum_message_count,
       CAST(sum_source_rows AS BIGINT) AS sum_source_rows,
       silver_rows,
       CAST(sum_message_count - silver_rows AS BIGINT) AS delta_msg,
       CAST(sum_source_rows - silver_rows AS BIGINT) AS delta_src,
       (sum_message_count = silver_rows AND sum_source_rows = silver_rows
        AND hourly_rows >= 1) AS passed
FROM g CROSS JOIN s
"""


# --------------------------------------------------------------------------
# Temporal joins + sketches (operators/temporal.py, operators/quality.py)
# --------------------------------------------------------------------------


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the user's most recent view at or
    before it (within 1 h) — the union-window as-of
    (operators/temporal.py). Views are pre-deduped per (user, ts)
    keeping the max event_id so ties are deterministic in both engines
    (DuckDB's ASOF picks an arbitrary row among equal timestamps)."""
    from knot_another_pipeline_spark.operators.temporal import asof_join

    ev = load_table(spark, sf_dir, "events")
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "ts").orderBy(
        F.col("view_event_id").desc()
    )
    quotes = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            "ts",
            F.col("event_id").alias("view_event_id"),
            F.round("value", 6).alias("view_value"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return asof_join(probes, quotes, on="user_id", tolerance_seconds=3600)


ORACLE_ASOF_JOIN = """
WITH q AS (
  SELECT user_id, ts, event_id AS view_event_id, round(value, 6) AS view_value,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'view'),
qq AS (SELECT user_id, ts, view_event_id, view_value FROM q WHERE rn = 1),
p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
SELECT p.user_id, p.ts, p.event_id,
       CASE WHEN qq.ts >= p.ts - INTERVAL 1 HOUR
            THEN qq.view_event_id END AS view_event_id,
       CASE WHEN qq.ts >= p.ts - INTERVAL 1 HOUR
            THEN qq.view_value END AS view_value,
       CASE WHEN qq.ts >= p.ts - INTERVAL 1 HOUR
            THEN qq.ts END AS asof_ts
FROM p ASOF LEFT JOIN qq
  ON p.user_id = qq.user_id AND p.ts >= qq.ts
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases landing inside each user's 30-minute
    post-error window, aggregated per window — bucket-blocked range join
    (operators/temporal.py), never a broadcast-nested-loop."""
    from knot_another_pipeline_spark.operators.temporal import range_join

    ev = load_table(spark, sf_dir, "events")
    intervals = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_event_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    points = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round("value", 6).alias("pvalue")
    )
    return (
        range_join(points, intervals, on="user_id", bucket_seconds=1800)
        .groupBy("user_id", "error_event_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("pvalue"), 6).alias("sum_value"),
        )
    )


ORACLE_RANGE_JOIN = """
WITH e AS (
  SELECT user_id, event_id AS error_event_id, ts AS s,
         ts + INTERVAL 30 MINUTE AS en
  FROM events WHERE event_type = 'error'),
p AS (
  SELECT user_id, ts, round(value, 6) AS pvalue
  FROM events WHERE event_type = 'purchase')
SELECT e.user_id, e.error_event_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       round(sum(pvalue), 6) AS sum_value
FROM e JOIN p
  ON e.user_id = p.user_id AND p.ts >= e.s AND p.ts <= e.en
GROUP BY e.user_id, e.error_event_id
"""


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 1-hour per-user activity features over every event —
    native rangeBetween window (operators/temporal.py), one shuffle on
    user_id, no self-join."""
    from knot_another_pipeline_spark.operators.temporal import rolling_stats

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return rolling_stats(
        ev, key_col="user_id", ts_col="ts", value_col="value",
        window_seconds=3600,
    )


ORACLE_ROLLING_STATS = """
SELECT event_id, user_id, ts, value,
       CAST(count(value) OVER w AS BIGINT) AS n_window,
       round(sum(value) OVER w, 6) AS sum_window,
       round(avg(value) OVER w, 6) AS avg_window,
       max(value) OVER w AS max_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic KMV cardinality sketch: distinct users per event
    type at k=64 (operators/quality.py). Unlike HLL, bit-reproducible in
    any engine with md5 — which is what makes this differential test
    possible at all."""
    from knot_another_pipeline_spark.operators.quality import kmv_distinct

    ev = load_table(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", by="event_type", k=64)


ORACLE_KMV_DISTINCT = """
WITH d AS (
  SELECT DISTINCT event_type,
         substr(md5(concat('0', ':', CAST(user_id AS VARCHAR))), 1, 15) AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
  FROM d)
SELECT event_type,
       CAST(CASE WHEN count(*) < 64 THEN count(*)
                 ELSE round(63.0 / (CAST(concat('0x', max(h)) AS BIGINT)
                                    / 1152921504606846976.0))
            END AS BIGINT) AS n_distinct_est
FROM r WHERE rn <= 64
GROUP BY event_type
"""


def q_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class balancing: cap documents at 30 per language, hash-ranked so
    the draw reproduces in any engine and a bigger cap extends the same
    selection (operators/sampling.py stratified_cap)."""
    from knot_another_pipeline_spark.operators.sampling import stratified_cap

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_cap(docs, group_col="lang", id_col="doc_id", cap=30)
    return out.select("doc_id", "lang", "n_chars")


ORACLE_STRATIFIED_CAP = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY substr(md5(concat('0', ':', CAST(doc_id AS VARCHAR))),
                    1, 15) ASC,
                    doc_id ASC) AS rk
  FROM documents) t
WHERE rk <= 30
"""


def q_histogram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift alarm: total-variation distance between the length
    histograms of two document halves (operators/quality.py
    histogram_drift) — exact integer counts, one bounded-shuffle
    histogram per side."""
    from knot_another_pipeline_spark.operators.quality import histogram_drift

    docs = load_table(spark, sf_dir, "documents")
    return histogram_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        "n_chars",
        bins=32, lo=0.0, hi=2000.0,
    )


ORACLE_HISTOGRAM_DRIFT = """
WITH cur AS (
  SELECT least(greatest(
           CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 62.5) AS BIGINT),
           0), 31) AS bin
  FROM documents
  WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
    AND NOT isnan(CAST(n_chars AS DOUBLE))),
hc AS (SELECT bin, count(*) AS n_cur FROM cur GROUP BY bin),
refs AS (
  SELECT least(greatest(
           CAST(floor((CAST(n_chars AS DOUBLE) - 0.0) / 62.5) AS BIGINT),
           0), 31) AS bin
  FROM documents
  WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
    AND NOT isnan(CAST(n_chars AS DOUBLE))),
hr AS (SELECT bin, count(*) AS n_ref FROM refs GROUP BY bin),
j AS (
  SELECT coalesce(n_cur, 0) AS n_cur, coalesce(n_ref, 0) AS n_ref
  FROM hc FULL OUTER JOIN hr ON hc.bin = hr.bin),
t AS (SELECT sum(n_cur) AS tc, sum(n_ref) AS tr FROM j)
SELECT round(sum(abs(CAST(n_cur AS DOUBLE) / tc
                     - CAST(n_ref AS DOUBLE) / tr)) / 2.0, 6)
         AS tv_distance,
       CAST(tc AS BIGINT) AS n_current,
       CAST(tr AS BIGINT) AS n_reference
FROM j CROSS JOIN t GROUP BY tc, tr
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (operators/similarity.py
    embedding_centroids): posexplode + one map-side-combined aggregate;
    flat (label, pos, value) output is the join-ready centroid shape."""
    from knot_another_pipeline_spark.operators.similarity import (
        embedding_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = embedding_centroids(emb, vec_col="embedding", by="label")
    return out.select(
        F.col("label").cast("bigint").alias("label"),
        F.col("pos").cast("bigint").alias("pos"),
        "centroid",
        "n_vectors",
    )


ORACLE_EMBEDDING_CENTROIDS = """
SELECT CAST(label AS BIGINT) AS label,
       CAST(i - 1 AS BIGINT) AS pos,
       round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS centroid,
       count(*) AS n_vectors
FROM embeddings
CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t
GROUP BY label, i
"""


def q_length_percentile_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length percentile of every document (cume_dist —
    deterministic under ties, unlike row_number-derived percentiles):
    the normalized-score shape used to compare documents across corpora
    with different length distributions."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").asc())
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(F.cume_dist().over(w), 6).alias("length_pctile"),
    )


ORACLE_LENGTH_PERCENTILE_RANK = """
SELECT doc_id, lang, n_chars,
       round(cume_dist() OVER (PARTITION BY lang ORDER BY n_chars ASC), 6)
         AS length_pctile
FROM documents
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length chunking: 64-token windows advancing by 48 (16
    overlap) over every document (operators/text_analysis.py
    chunk_documents) — row-local expression work, no shuffle."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = chunk_documents(
        docs, id_col="doc_id", text_col="text",
        chunk_tokens=64, overlap_tokens=16,
    )
    return out.select(
        F.col("id").alias("doc_id"), "chunk_id", "chunk_text", "n_tokens"
    )


ORACLE_CHUNK_DOCUMENTS = f"""
WITH toks AS ({_TOKS_SQL}),
base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
c AS (
  SELECT doc_id, t, n,
         CASE WHEN n <= 64 THEN 1
              ELSE CAST(ceil((n - 64) / 48.0) AS BIGINT) + 1 END AS n_chunks
  FROM base),
e AS (
  SELECT doc_id, t, n, unnest(range(0, n_chunks)) AS chunk_id FROM c)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       array_to_string(
         list_slice(t, chunk_id * 48 + 1, chunk_id * 48 + 64), ' '
       ) AS chunk_text,
       CAST(least(64, n - chunk_id * 48) AS BIGINT) AS n_tokens
FROM e
"""


def q_grouped_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe top-5 events by value per user
    (operators/relational.py grouped_topk): two-stage tournament — no
    task ever sorts a whole giant group; result identical to the plain
    ranking window, which is what the oracle runs."""
    from knot_another_pipeline_spark.operators.relational import grouped_topk

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.round("value", 6).alias("value")
    )
    out = grouped_topk(
        ev, ["user_id"], order_col="value", k=5, tiebreak="event_id"
    )
    return out.select("user_id", "event_id", "value")


ORACLE_GROUPED_TOPK = """
SELECT user_id, event_id, value FROM (
  SELECT user_id, event_id, round(value, 6) AS value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY round(value, 6) DESC,
                                     event_id DESC) AS rn
  FROM events) t
WHERE rn <= 5
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation between orders and its upserted rebuild
    (operators/relational.py snapshot_diff): one full-outer join on the
    key, change detection via null-sentineled md5 row signatures so the
    shuffle carries hashes, not rows."""
    from knot_another_pipeline_spark.operators.relational import (
        snapshot_diff,
        upsert,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        F.round(F.col("price") * 2, 2).alias("price"),
    )
    inserts = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") > 0)
    ).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("I").alias("o_orderstatus"),
        "price",
    )
    rebuilt = upsert(orders, updates.unionByName(inserts), "o_orderkey")
    # drop a slice to exercise 'removed'
    rebuilt = rebuilt.filter(F.col("o_orderkey") % 13 != 0)
    return snapshot_diff(orders, rebuilt, "o_orderkey")


ORACLE_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
  FROM orders),
upd AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, round(price * 2, 2) AS price
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -o_orderkey, 'I', price FROM base
  WHERE o_orderkey % 7 = 0 AND o_orderkey > 0),
tagged AS (
  SELECT *, 0 AS pref FROM base
  UNION ALL SELECT *, 1 AS pref FROM upd),
merged AS (
  SELECT o_orderkey, o_orderstatus, price FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                 ORDER BY pref DESC) AS rn
    FROM tagged) t
  WHERE rn = 1 AND o_orderkey % 13 != 0),
osig AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(31),
             coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
             coalesce(CAST(price AS VARCHAR), chr(0)))) AS h
  FROM base),
nsig AS (
  SELECT o_orderkey,
         md5(concat_ws(chr(31),
             coalesce(CAST(o_orderstatus AS VARCHAR), chr(0)),
             coalesce(CAST(price AS VARCHAR), chr(0)))) AS h
  FROM merged)
SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h != n.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM osig o FULL OUTER JOIN nsig n ON o.o_orderkey = n.o_orderkey
"""


def q_track_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Track resampling onto a regular 6-hour grid: each grid instant
    takes the entity's most recent position within 6 hours (as-of join,
    operators/temporal.py). This is the distributed form of the track
    apps' per-track pandas sort/align
    (``/root/reference/apps/track_explorer.py:56-78``) — per-entity
    sequence generation plus one union-window pass, no driver loops."""
    from knot_another_pipeline_spark.operators.temporal import asof_join

    w_dup = Window.partitionBy("user_id", "ts").orderBy(
        F.col("event_id").desc()
    )
    pos = (
        _positions(spark, sf_dir)
        .withColumn("_rn", F.row_number().over(w_dup))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("user_id").alias("uid"),
            "ts",
            F.round("lat", 6).alias("lat"),
            F.round("lon", 6).alias("lon"),
        )
    )
    span = pos.groupBy("uid").agg(
        F.date_trunc("day", F.min("ts")).alias("t0"),
        F.max("ts").alias("t1"),
    )
    grid = span.select(
        "uid",
        F.explode(
            F.sequence("t0", "t1", F.expr("INTERVAL 6 HOURS"))
        ).alias("grid_ts"),
    )
    out = asof_join(
        grid,
        pos,
        on="uid",
        left_ts="grid_ts",
        right_ts="ts",
        tolerance_seconds=6 * 3600,
    )
    return out.select("uid", "grid_ts", "lat", "lon", "asof_ts")


ORACLE_TRACK_INTERPOLATE = f"""
WITH pos0 AS (
  SELECT user_id AS uid, ts, round(lat, 6) AS lat, round(lon, 6) AS lon,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM ({_POSITIONS_SQL})),
pos AS (SELECT uid, ts, lat, lon FROM pos0 WHERE rn = 1),
span AS (
  SELECT uid, date_trunc('day', min(ts)) AS t0, max(ts) AS t1
  FROM pos GROUP BY uid),
grid AS (
  SELECT uid, unnest(generate_series(t0, t1, INTERVAL 6 HOUR)) AS grid_ts
  FROM span)
SELECT g.uid, g.grid_ts,
       CASE WHEN p.ts >= g.grid_ts - INTERVAL 6 HOUR THEN p.lat END AS lat,
       CASE WHEN p.ts >= g.grid_ts - INTERVAL 6 HOUR THEN p.lon END AS lon,
       CASE WHEN p.ts >= g.grid_ts - INTERVAL 6 HOUR THEN p.ts END AS asof_ts
FROM grid g ASOF LEFT JOIN pos p
  ON g.uid = p.uid AND g.grid_ts >= p.ts
"""


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over the 5-value event_type key —
    the few-giant-groups skew shape (operators/relational.py salted_agg).
    Result is identical to a plain GROUP BY; the oracle IS the plain
    GROUP BY."""
    from knot_another_pipeline_spark.operators.relational import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("count", "*"),
            "sum_value": ("sum", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
            "avg_value": ("avg", "value"),
        },
        salt=16,
        id_col="event_id",
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.round("sum_value", 4).alias("sum_value"),
        "min_value",
        "max_value",
        F.round("avg_value", 6).alias("avg_value"),
    )


ORACLE_SALTED_AGG = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 4) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY event_type
"""


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic histogram-interpolated quantiles of events.value
    (operators/quality.py histogram_quantiles): the reproducible
    alternative to percentile_approx — one bounded-shuffle histogram
    pass, bin width is the error bound."""
    from knot_another_pipeline_spark.operators.quality import (
        histogram_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    return histogram_quantiles(
        ev, "value", probs=[0.25, 0.5, 0.75, 0.95],
        bins=200, lo=0.0, hi=500.0,
    )


ORACLE_HISTOGRAM_QUANTILES = """
WITH b AS (
  SELECT least(greatest(
           CAST(floor((CAST(value AS DOUBLE) - 0.0) / 2.5) AS BIGINT),
           0), 199) AS bin
  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
h AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
c AS (SELECT bin, n,
             sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      FROM h),
t AS (SELECT sum(n) AS total FROM h),
p AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS p),
j AS (
  SELECT p.p, c.bin, c.n, c.cum, t.total,
         row_number() OVER (PARTITION BY p.p ORDER BY c.bin) AS rn
  FROM p CROSS JOIN t
  JOIN c ON CAST(c.cum AS DOUBLE) >= p.p * t.total)
SELECT CAST(p AS DOUBLE) AS p,
       CAST(round(round(0.0 + bin * 2.5, 6)
             + (round(0.0 + (bin + 1) * 2.5, 6) - round(0.0 + bin * 2.5, 6))
               * ((p * total - (cum - n)) / n), 6) AS DOUBLE) AS quantile
FROM j WHERE rn = 1
"""


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key over (user_id, floor(value))
    (functions/hashing.py morton_key): the sort key that makes min/max
    row-group stats prune on either dimension; pure bitwise codegen,
    bit-exact in any engine."""
    from knot_another_pipeline_spark.functions.hashing import morton_key

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        morton_key(
            F.col("user_id"), F.floor(F.col("value")).cast("long")
        ).alias("zkey"),
    )


def _spread_sql(expr: str) -> str:
    s = f"(({expr}) & 2097151)"
    for sh, m in (
        (32, 0x1F00000000FFFF),
        (16, 0x1F0000FF0000FF),
        (8, 0x100F00F00F00F00F),
        (4, 0x10C30C30C30C30C3),
        (2, 0x1249249249249249),
    ):
        s = f"((({s}) | (({s}) << {sh})) & {m})"
    return s


ORACLE_ZORDER_KEY = f"""
SELECT event_id,
       ({_spread_sql('user_id')})
       | (({_spread_sql('CAST(floor(value) AS BIGINT)')}) << 1) AS zkey
FROM events
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-corpus dedup (operators/dedup.py
    incremental_dedup): every 5th document plays the newly-landed batch,
    the rest the existing lake; exact (fingerprint) + near (banded
    minhash) screens, corpus never self-paired."""
    from knot_another_pipeline_spark.operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = incremental_dedup(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "status",
        "dup_of",
        F.round("est_jaccard", 4).alias("est_jaccard"),
    )


ORACLE_INCREMENTAL_DEDUP = (
    rf"""
WITH toks AS ({_TOKS_SQL}),
sh AS ({_SHINGLES_SQL}),
sig AS ({_SIG_SQL}),
buckets AS (
  """
    + "\n  UNION ALL\n  ".join(_band_bucket_sql(b) for b in range(4))
    + r"""
),
nfp AS (
  SELECT doc_id AS id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 5 = 0),
cfp AS (
  SELECT doc_id AS id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g'))) AS fp
  FROM documents WHERE doc_id % 5 != 0),
exact AS (
  SELECT nfp.id, min(b.dup_of) AS dup_of
  FROM nfp JOIN (
    SELECT id AS dup_of, fp, FALSE AS in_batch FROM cfp
    UNION ALL
    SELECT id AS dup_of, fp, TRUE AS in_batch FROM nfp) b USING (fp)
  WHERE (NOT b.in_batch) OR b.dup_of < nfp.id
  GROUP BY nfp.id),
cands AS (
  SELECT DISTINCT n.id AS id_a, c.id AS id_b
  FROM buckets n JOIN buckets c
    ON n.band = c.band AND n.bucket = c.bucket
  WHERE n.id % 5 = 0
    AND (c.id % 5 != 0 OR c.id < n.id)),
verified AS (
  SELECT c.id_a, c.id_b,
         ("""
    + " + ".join(
        f"CASE WHEN sa.m{j} = sb.m{j} THEN 1 ELSE 0 END" for j in range(16)
    )
    + r""") / 16.0 AS est
  FROM cands c
  JOIN sig sa ON sa.id = c.id_a
  JOIN sig sb ON sb.id = c.id_b),
near AS (
  SELECT id_a AS id, min(id_b) AS dup_of, max(est) AS est
  FROM verified WHERE est >= 0.7 GROUP BY id_a)
SELECT d.doc_id,
       CASE WHEN e.id IS NOT NULL THEN 'exact_dup'
            WHEN nr.id IS NOT NULL THEN 'near_dup'
            ELSE 'keep' END AS status,
       coalesce(e.dup_of, nr.dup_of) AS dup_of,
       CASE WHEN e.id IS NULL THEN round(nr.est, 4) END AS est_jaccard
FROM documents d
LEFT JOIN exact e ON d.doc_id = e.id
LEFT JOIN near nr ON d.doc_id = nr.id
WHERE d.doc_id % 5 = 0
"""
)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-trained unigram LM quality score per document
    (operators/text_analysis.py unigram_logprob_score): the CCNet-style
    perplexity-ranking signal, deterministic and oracle-checkable."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        unigram_logprob_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = unigram_logprob_score(docs, id_col="doc_id", text_col="text")
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "avg_logprob",
        "perplexity",
    )


ORACLE_LM_SCORE = rf"""
WITH toks AS ({_TOKS_SQL}),
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
counts AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
totals AS (
  SELECT CAST(sum(cnt) AS DOUBLE) AS model_n,
         CAST(count(*) AS DOUBLE) AS model_v
  FROM counts),
scored AS (
  SELECT tok.doc_id,
         ln((CAST(coalesce(c.cnt, 0) AS DOUBLE) + 0.5)
            / (t.model_n + 0.5 * t.model_v)) AS logp
  FROM tok LEFT JOIN counts c ON tok.tok = c.tok CROSS JOIN totals t)
SELECT doc_id, count(*) AS n_tokens,
       round(avg(logp), 6) AS avg_logprob,
       round(exp(-round(avg(logp), 6)), 4) AS perplexity
FROM scored GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Warehouse maintenance + profiling (relational.py, sampling.py, quality.py)
# --------------------------------------------------------------------------


def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style upsert (operators/relational.py): a synthetic update
    batch (every 10th order re-priced — doubled, exact in binary FP — and status-flipped) plus an insert
    batch (negated keys) merged into orders — union + latest-row-wins,
    one shuffle, no join."""
    from knot_another_pipeline_spark.operators.relational import upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        F.round(F.col("price") * 2, 2).alias("price"),
    )
    inserts = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") > 0)
    ).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("I").alias("o_orderstatus"),
        "price",
    )
    merged = upsert(orders, updates.unionByName(inserts), "o_orderkey")
    return merged.select("o_orderkey", "o_orderstatus", "price")


ORACLE_UPSERT = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
  FROM orders),
upd AS (
  SELECT o_orderkey, 'X' AS o_orderstatus, round(price * 2, 2) AS price
  FROM base WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT -o_orderkey, 'I', price FROM base
  WHERE o_orderkey % 7 = 0 AND o_orderkey > 0),
tagged AS (
  SELECT *, 0 AS pref FROM base
  UNION ALL
  SELECT *, 1 AS pref FROM upd),
r AS (
  SELECT o_orderkey, o_orderstatus, price,
         row_number() OVER (PARTITION BY o_orderkey ORDER BY pref DESC) AS rn
  FROM tagged)
SELECT o_orderkey, o_orderstatus, price FROM r WHERE rn = 1
"""


def q_grouped_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (status, priority) in one input pass
    (operators/relational.py grouped_totals): leaf grains, per-status
    subtotals, and the grand total from a single scan. Money sums in
    integer cents so the multi-grain totals are exact in any engine."""
    from knot_another_pipeline_spark.operators.relational import grouped_totals

    orders = load_table(spark, sf_dir, "orders")
    return grouped_totals(
        orders.withColumn(
            "cents", F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        ),
        ["o_orderstatus", "o_orderpriority"],
        [
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("sum_cents"),
        ],
    )


ORACLE_GROUPED_TOTALS = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grouping_id,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (A-ES, operators/sampling.py):
    50 documents drawn with probability ∝ length, reproducible across
    engines because u is md5-derived — the oracle draws the identical
    sample."""
    from knot_another_pipeline_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample(
        docs, id_col="doc_id", weight_col="n_chars", k=50
    ).select("doc_id", "n_chars")


ORACLE_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         ln((CAST(concat('0x', substr(md5(concat('0', ':',
               CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1.0)
            / 1152921504606846976.0)
           / CAST(n_chars AS DOUBLE) AS k
  FROM documents
  WHERE CAST(n_chars AS DOUBLE) > 0
  ORDER BY k DESC, doc_id ASC
  LIMIT 50) t
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of events.value (operators/quality.py): 20
    bins over [0, 500), out-of-range clamped to the edge bins — shuffle
    bounded by bin count, not data size."""
    from knot_another_pipeline_spark.operators.quality import (
        equi_width_histogram,
    )

    ev = load_table(spark, sf_dir, "events")
    return equi_width_histogram(ev, "value", bins=20, lo=0.0, hi=500.0)


ORACLE_VALUE_HISTOGRAM = """
WITH b AS (
  SELECT least(greatest(
           CAST(floor((CAST(value AS DOUBLE) - 0.0) / 25.0) AS BIGINT),
           0), 19) AS bin
  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE)))
SELECT bin,
       CAST(round(0.0 + bin * 25.0, 6) AS DOUBLE) AS bin_lo,
       CAST(round(0.0 + (bin + 1) * 25.0, 6) AS DOUBLE) AS bin_hi,
       count(*) AS n
FROM b GROUP BY bin
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply (operators/relational.py cdc_apply): a
    synthetic change log — re-priced updates (ver 2), takedown deletes
    (ver 3, which beat the overlapping updates), negated-key inserts
    (ver 1) — merged into the orders snapshot via the union+window
    no-join shape. The oracle is the equivalent set algebra."""
    from knot_another_pipeline_spark.operators.relational import cdc_apply

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.round(F.col("price") * 2, 2).alias("price"),
        F.lit("U").alias("op"),
        F.lit(2).alias("ver"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 15 == 0).select(
        "o_orderkey",
        F.lit(None).cast("string").alias("o_orderstatus"),
        F.lit(None).cast("double").alias("price"),
        F.lit("D").alias("op"),
        F.lit(3).alias("ver"),
    )
    inserts = orders.filter(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") > 0)
    ).select(
        (-F.col("o_orderkey")).alias("o_orderkey"),
        F.lit("I").alias("o_orderstatus"),
        "price",
        F.lit("I").alias("op"),
        F.lit(1).alias("ver"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    out = cdc_apply(orders, changes, "o_orderkey", order_col="ver")
    return out.select("o_orderkey", "o_orderstatus", "price")


ORACLE_CDC_APPLY = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS price
  FROM orders)
SELECT o_orderkey, o_orderstatus, price FROM base
WHERE o_orderkey % 15 != 0 AND o_orderkey % 10 != 0
UNION ALL
SELECT o_orderkey, 'U' AS o_orderstatus, round(price * 2, 2) AS price
FROM base WHERE o_orderkey % 10 = 0 AND o_orderkey % 15 != 0
UNION ALL
SELECT -o_orderkey AS o_orderkey, 'I' AS o_orderstatus, price
FROM base WHERE o_orderkey % 7 = 0 AND o_orderkey > 0
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each user's event_type (operators/
    temporal.py scd2_history): validity intervals with consecutive
    duplicates collapsed, all windows sharing one key shuffle. The
    oracle replays the identical lag/flag/running-sum construction."""
    from knot_another_pipeline_spark.operators.temporal import scd2_history

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    return scd2_history(
        ev, "user_id", ts_col="ts", attr_cols=["event_type"]
    )


ORACLE_SCD2_HISTORY = """
WITH flagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
vers AS (
  SELECT user_id, ts, event_type,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_type
                        ROWS UNBOUNDED PRECEDING) AS ver
  FROM flagged),
per_ver AS (
  SELECT user_id, ver, min(ts) AS valid_from, min(event_type) AS event_type
  FROM vers GROUP BY user_id, ver)
SELECT user_id, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       (lead(valid_from) OVER w2 IS NULL) AS is_current,
       event_type
FROM per_ver
WINDOW w2 AS (PARTITION BY user_id ORDER BY ver)
"""


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalesce (operators/temporal.py
    interval_merge): each event opens a 30-minute activity interval;
    overlapping intervals merge per user. Two windows + one aggregate
    over a single key shuffle — never an overlap self-join."""
    from knot_another_pipeline_spark.operators.temporal import interval_merge

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end_ts"),
    )
    out = interval_merge(ev, "user_id")
    return out.select("user_id", "start_ts", "end_ts", "n_intervals")


ORACLE_INTERVAL_MERGE = """
WITH iv AS (
  SELECT user_id, ts AS start_ts, ts + INTERVAL 30 MINUTE AS end_ts
  FROM events),
flagged AS (
  SELECT user_id, start_ts, end_ts,
         CASE WHEN max(epoch_us(end_ts)) OVER wprev IS NULL
                OR epoch_us(start_ts) > max(epoch_us(end_ts)) OVER wprev
              THEN 1 ELSE 0 END AS new_island
  FROM iv
  WINDOW wprev AS (PARTITION BY user_id ORDER BY start_ts, end_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
islands AS (
  SELECT user_id, start_ts, end_ts,
         sum(new_island) OVER (PARTITION BY user_id
                               ORDER BY start_ts, end_ts
                               ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged)
SELECT user_id, min(start_ts) AS start_ts, max(end_ts) AS end_ts,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM islands GROUP BY user_id, island
"""


def q_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 bigrams (operators/text_analysis.py
    ngram_topk): row-local n-gram construction in codegen, one explode
    into a partial+final count, TakeOrdered top-k — the boilerplate/
    template-mining statistics pass."""
    from knot_another_pipeline_spark.operators.text_analysis import ngram_topk

    docs = load_table(spark, sf_dir, "documents")
    return ngram_topk(docs, text_col="text", n=2, k=50)


ORACLE_NGRAM_TOPK = rf"""
WITH toks AS ({_TOKS_SQL}),
pos AS (
  SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2),
grams AS (
  SELECT t[i] || ' ' || t[i + 1] AS ngram FROM pos)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences
FROM grams GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC
LIMIT 50
"""


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers (operators/quality.py
    anomaly_zscore): group stats via one hash aggregate joined back
    (AQE broadcast), never a per-row window. Returns the flagged rows;
    the oracle computes the identical standardization."""
    from knot_another_pipeline_spark.operators.quality import anomaly_zscore

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = anomaly_zscore(ev, "event_type", value_col="value", threshold=2.0)
    return out.filter("is_anomaly").select(
        "event_id", "event_type", F.round("value", 6).alias("value"), "z"
    )


ORACLE_ANOMALY_ZSCORE = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
  FROM events WHERE value IS NOT NULL GROUP BY event_type)
SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
       round((e.value - s.mu) / s.sigma, 6) AS z
FROM events e JOIN stats s USING (event_type)
WHERE s.sigma IS NOT NULL AND s.sigma > 0
  AND abs(round((e.value - s.mu) / s.sigma, 6)) > 2.0
"""


def q_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-type matrix (operators/relational.py pivot_wide): the
    explicit-value-list pivot — one hash aggregate, no discovery job.
    The oracle is the CASE-WHEN formulation the reference's notebooks
    hand-write; both leave absent cells NULL."""
    from knot_another_pipeline_spark.operators.relational import pivot_wide

    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts").cast("timestamp")).cast("date").alias("day"),
        "event_type",
    )
    types = ["click", "error", "purchase", "signup", "view"]
    return pivot_wide(ev, "day", "event_type", types).orderBy("day")


ORACLE_PIVOT_DAILY = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
       CAST(sum(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
FROM events GROUP BY 1
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (operators/relational.py unpivot_long): monthly
    order metrics unpivoted by the native Expand operator — one scan,
    zero shuffle past the aggregate; the oracle is the UNION ALL the
    Expand replaces."""
    from knot_another_pipeline_spark.operators.relational import unpivot_long

    orders = load_table(spark, sf_dir, "orders")
    wide = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp"))
        .cast("date")
        .alias("month")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.round(F.avg("o_totalprice"), 6).alias("avg_price"),
    )
    return unpivot_long(
        wide, "month", ["n_orders", "total_price", "avg_price"]
    ).orderBy("month", "metric")


ORACLE_UNPIVOT_METRICS = """
WITH wide AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(count(*) AS DOUBLE) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price,
         round(avg(o_totalprice), 6) AS avg_price
  FROM orders GROUP BY 1)
SELECT month, 'n_orders' AS metric, n_orders AS value FROM wide
UNION ALL
SELECT month, 'total_price' AS metric, total_price AS value FROM wide
UNION ALL
SELECT month, 'avg_price' AS metric, avg_price AS value FROM wide
"""


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue deltas (operators/temporal.py
    period_over_period): one lag window over the already-aggregated
    monthly table; percent change is NULLIF-guarded in both engines."""
    from knot_another_pipeline_spark.operators.temporal import period_over_period

    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("timestamp"))
        .cast("date")
        .alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    out = period_over_period(monthly, "month", "revenue")
    return out.select(
        "month",
        "revenue",
        "prev_revenue",
        F.round("delta_revenue", 2).alias("delta_revenue"),
        F.col("pct_change_revenue").alias("pct_change"),
    ).orderBy("month")


ORACLE_PERIOD_OVER_PERIOD = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1)
SELECT month, revenue,
       lag(revenue) OVER w AS prev_revenue,
       round(revenue - lag(revenue) OVER w, 2) AS delta_revenue,
       round((revenue - lag(revenue) OVER w)
             / nullif(lag(revenue) OVER w, 0), 6) AS pct_change
FROM monthly
WINDOW w AS (ORDER BY month)
"""


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel signup→view→purchase (operators/behavior.py
    funnel): conditional first-occurrence mins in one user aggregate;
    the oracle replays the identical flag algebra."""
    from knot_another_pipeline_spark.operators.behavior import funnel

    ev = load_table(spark, sf_dir, "events")
    return funnel(ev, ["signup", "view", "purchase"])


ORACLE_FUNNEL_STEPS = """
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
  FROM events GROUP BY user_id),
flags AS (
  SELECT CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END AS r0,
         CASE WHEN t0 IS NOT NULL AND t1 > t0 THEN 1 ELSE 0 END AS r1,
         CASE WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1
              THEN 1 ELSE 0 END AS r2
  FROM firsts)
SELECT CAST(1 AS INT) AS step_index, 'signup' AS step,
       CAST(sum(r0) AS BIGINT) AS n_users FROM flags
UNION ALL
SELECT CAST(2 AS INT), 'view', CAST(sum(r1) AS BIGINT) FROM flags
UNION ALL
SELECT CAST(3 AS INT), 'purchase', CAST(sum(r2) AS BIGINT) FROM flags
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly cohort retention matrix (operators/behavior.py
    cohort_retention): first-touch cohorting + distinct-active cells,
    integer month arithmetic in both engines."""
    from knot_another_pipeline_spark.operators.behavior import cohort_retention

    ev = load_table(spark, sf_dir, "events")
    return cohort_retention(ev)


ORACLE_COHORT_RETENTION = """
WITH activity AS (
  SELECT DISTINCT user_id AS uid, date_trunc('month', ts) AS m FROM events),
firsts AS (
  SELECT uid, min(m) AS cohort FROM activity GROUP BY uid)
SELECT CAST(cohort AS DATE) AS cohort_month,
       CAST((year(m) * 12 + month(m))
            - (year(cohort) * 12 + month(cohort)) AS INT) AS month_offset,
       CAST(count(DISTINCT uid) AS BIGINT) AS n_active
FROM activity JOIN firsts USING (uid)
GROUP BY 1, 2
"""


def q_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted large×medium join (operators/relational.py skew_join):
    lineitem⋈orders on orderkey with an 8-way salt fanout, then revenue
    by priority. The salt is algebra-invisible — the oracle is the plain
    join — but at scale it breaks single-hot-key stragglers AQE cannot
    split."""
    from knot_another_pipeline_spark.operators.relational import skew_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderpriority"
    )
    joined = skew_join(li, orders, "okey", salt=8)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_SKEW_JOIN = """
SELECT o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance matching (operators/dedup.py
    fuzzy_match_pairs): customer names within 1 edit, blocked by market
    segment — candidate pairs only ever form inside a block, verified by
    the codegen ``levenshtein``; the oracle runs the identical blocked
    join in DuckDB."""
    from knot_another_pipeline_spark.operators.dedup import fuzzy_match_pairs

    cust = load_table(spark, sf_dir, "customer")
    out = fuzzy_match_pairs(
        cust.select("c_custkey", "c_name", "c_mktsegment"),
        id_col="c_custkey",
        text_col="c_name",
        max_distance=1,
        block_cols=["c_mktsegment"],
    )
    return out.select(
        "id_a", "id_b", "text_a", "text_b", F.col("distance").cast("int").alias("distance")
    ).orderBy("id_a", "id_b")


ORACLE_FUZZY_MATCH = """
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS text_a, b.c_name AS text_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
FROM customer a JOIN customer b
  ON a.c_mktsegment = b.c_mktsegment
 AND a.c_custkey < b.c_custkey
 AND levenshtein(a.c_name, b.c_name) <= 1
"""


def q_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily resample (operators/temporal.py
    resample_calendar): per-type daily counts with a sequence()-built
    calendar spine so absent days surface as explicit zeros; the oracle
    builds the same spine with generate_series."""
    from knot_another_pipeline_spark.operators.temporal import resample_calendar

    ev = load_table(spark, sf_dir, "events")
    out = resample_calendar(
        ev,
        "ts",
        group_cols="event_type",
        aggs={
            "n_events": F.count(F.lit(1)),
            "total_value": F.round(F.sum("value"), 2),
        },
        fill={"n_events": 0},
    )
    return out.select(
        "event_type",
        F.col("bucket").cast("date").alias("day"),
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    ).orderBy("event_type", "day")


ORACLE_RESAMPLE_DAILY = """
WITH b AS (
  SELECT event_type, date_trunc('day', ts) AS bucket,
         CAST(count(*) AS BIGINT) AS n_events,
         round(sum(value), 2) AS total_value
  FROM events GROUP BY 1, 2),
spans AS (
  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
  FROM b GROUP BY 1),
spine AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS bucket
  FROM spans)
SELECT s.event_type, CAST(s.bucket AS DATE) AS day,
       coalesce(n_events, 0) AS n_events, total_value
FROM spine s LEFT JOIN b USING (event_type, bucket)
"""


def q_json_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction (functions P19 family): pull the
    integer ``k`` out of the JSON ``props`` payload with the codegen
    ``get_json_object`` and aggregate per event type — no UDF, no
    two-pass schema inference; the oracle uses DuckDB's JSON operator."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


ORACLE_JSON_EXTRACT_STATS = """
SELECT event_type,
       CAST(count(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS n_with_k,
       round(avg(CAST(props ->> 'k' AS BIGINT)), 6) AS avg_k,
       CAST(max(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS max_k
FROM events
GROUP BY event_type
"""


def q_reaggregate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-aggregate merge (operators/relational.py reaggregate):
    daily event partials re-aggregated to monthly WITHOUT rescanning the
    raw rows. The oracle aggregates the raw table directly — passing
    means the algebraic identity holds end-to-end."""
    from knot_another_pipeline_spark.operators.relational import reaggregate

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    monthly = reaggregate(
        daily.withColumn(
            "month", F.date_trunc("month", "day").cast("date")
        ),
        ["month", "event_type"],
        count_cols=["n_events"],
        sum_cols=["total_value"],
        min_cols=["min_value"],
        max_cols=["max_value"],
    )
    return monthly.select(
        "month",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("total_value", 2).alias("total_value"),
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    ).orderBy("month", "event_type")


ORACLE_REAGGREGATE_MONTHLY = """
SELECT CAST(date_trunc('month', ts) AS DATE) AS month, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value
FROM events GROUP BY 1, 2
"""


def q_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length deciles (operators/relational.py
    ntile_assign): NTILE(10) within each language, doc_id tiebreak for
    deterministic bucket boundaries; both engines use the standard
    deal-the-remainder NTILE."""
    from knot_another_pipeline_spark.operators.relational import ntile_assign

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = ntile_assign(
        docs,
        "n_chars",
        n=10,
        partition_cols="lang",
        tiebreak="doc_id",
        out_col="decile",
    )
    return out.select(
        "doc_id", "lang", "n_chars", F.col("decile").cast("int").alias("decile")
    ).orderBy("lang", "decile", "doc_id")


ORACLE_NTILE_DECILES = """
SELECT doc_id, lang, n_chars,
       CAST(ntile(10) OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS INT) AS decile
FROM documents
"""


def q_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text canonicalization (operators/text_analysis.py
    normalize_documents): control-strip → lower → whitespace-collapse →
    trim, then a stable md5 of the canonical form — the pre-dedup
    normalization pass, RE2-safe so the oracle runs the identical
    regexes."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        normalize_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return normalize_documents(docs, id_col="doc_id", text_col="text").orderBy(
        "id"
    )


ORACLE_NORMALIZE_DOCS = r"""
WITH norm AS (
  SELECT doc_id AS id,
         trim(regexp_replace(
             lower(regexp_replace(
                 text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g')),
             '\s+', ' ', 'g')) AS t
  FROM documents)
SELECT id, CAST(length(t) AS INT) AS norm_len, md5(t) AS norm_md5
FROM norm
"""


def _bip_even(col: Column) -> Column:
    """Even half of the bipartite BIGINT node encoding (id*2)."""
    return col.cast("bigint") * 2


def _bip_odd(col: Column) -> Column:
    """Odd half of the bipartite BIGINT node encoding (id*2+1)."""
    return col.cast("bigint") * 2 + 1


def _bip_decode(col: Column, even_prefix: str, odd_prefix: str) -> Column:
    """Decode an encoded node id back to its ``<prefix>:<id>`` string.

    The iterative graph queries historically shuffled ``'o:' || key``
    STRING node ids through every join/aggregate of their power/
    propagation loops. Guide §2.3 (shuffle narrower types): an 8-byte
    BIGINT (even=left partition, odd=right) halves the key bytes and
    hashes/compares faster, and only the FINAL projection pays the
    string build. Pure relabeling — every rank/label/count is
    bit-identical (verified by set-equality A/B at sf0.01 and sf0.1
    for pagerank, personalized_pagerank, label_propagation,
    community_quality, hits_authority; measured −21% to −31% each).
    NOT applied where the string hash leaks into results:
    deterministic_walks (hash64 of the node string drives the walk).
    link_prediction's lexicographic pair orientation is restored by a
    decode-then-reorient final projection (r12), so its wedge/degree
    shuffles ride the BIGINT keys too.
    """
    return F.when(
        col % 2 == 0,
        F.concat(F.lit(even_prefix), (col / 2).cast("bigint").cast("string")),
    ).otherwise(
        F.concat(
            F.lit(odd_prefix), ((col - 1) / 2).cast("bigint").cast("string")
        )
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (operators/graph.py pagerank) over the
    bipartite order↔part co-occurrence graph from lineitem, both edge
    directions so no node dangles. 3 iterations, d=0.85; the oracle
    unrolls the identical algebra as three CTE layers."""
    from knot_another_pipeline_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    fwd = li.select(
        _bip_even(F.col("l_orderkey")).alias("src"),
        _bip_odd(F.col("l_partkey")).alias("dst"),
    )
    edges = fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    out = pagerank(edges, iterations=3, damping=0.85)
    return out.select(
        _bip_decode(F.col("node"), "o:", "p:").alias("node"),
        F.round("rank", 9).alias("rank"),
    ).orderBy("node")


def _pagerank_iter_sql(cur: str, prev: str) -> str:
    return f"""
{cur} AS (
  SELECT nd.node,
         (1 - 0.85) / (SELECT n FROM nn)
         + 0.85 * coalesce(sum({prev}.rank / dg.outdeg), 0) AS rank
  FROM nodes nd
  LEFT JOIN edges e ON e.dst = nd.node
  LEFT JOIN {prev} ON {prev}.node = e.src
  LEFT JOIN deg dg ON dg.src = e.src
  GROUP BY nd.node)"""


ORACLE_PAGERANK = f"""
WITH edges AS (
  SELECT DISTINCT 'o:' || l_orderkey AS src, 'p:' || l_partkey AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT 'p:' || l_partkey AS src, 'o:' || l_orderkey AS dst
  FROM lineitem),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
{_pagerank_iter_sql("r1", "r0")},
{_pagerank_iter_sql("r2", "r1")},
{_pagerank_iter_sql("r3", "r2")}
SELECT node, round(rank, 9) AS rank FROM r3
"""


def q_journey_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session journeys (operators/behavior.py journey_topk):
    gap-sessionize, render each session's ordered event-type path,
    count, TakeOrdered top-k with a journey tiebreak. The oracle is the
    same lag+cumsum sessionization with an ORDER BY string_agg."""
    from knot_another_pipeline_spark.operators.behavior import journey_topk

    ev = load_table(spark, sf_dir, "events")
    return journey_topk(ev, gap_minutes=30, k=20, max_steps=10)


ORACLE_JOURNEY_TOPK = """
WITH s AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > 30 * 60 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
ss AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess
  FROM s),
numbered AS (
  SELECT *, row_number() OVER (PARTITION BY user_id, sess
                               ORDER BY ts, event_id) AS rn
  FROM ss),
paths AS (
  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
  FROM numbered WHERE rn <= 10 GROUP BY user_id, sess)
SELECT journey, CAST(count(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY journey
ORDER BY n_sessions DESC, journey ASC
LIMIT 20
"""


# --------------------------------------------------------------------------
# 8. Round-5 additions: BM25 / PMI / prefix-filter join / decay / winsorize
# --------------------------------------------------------------------------


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval: top-10 documents for 'hash join filter'
    (operators/search.py bm25_search): query-term postings only reach
    the shuffle, row-local doc lengths, broadcast corpus stats,
    TakeOrdered top-k."""
    from knot_another_pipeline_spark.operators.search import bm25_search

    docs = load_table(spark, sf_dir, "documents")
    return bm25_search(
        docs, id_col="doc_id", text_col="text", query="hash join filter",
        k=10,
    )


ORACLE_BM25_SEARCH = rf"""
WITH toks AS ({_TOKS_SQL}),
base AS (SELECT doc_id AS id, CAST(len(t) AS DOUBLE) AS dl, t FROM toks),
posting AS (SELECT id, dl, unnest(t) AS token FROM base),
qt AS (SELECT unnest(['filter', 'hash', 'join']) AS token),
tf AS (
  SELECT p.id, p.dl, p.token, CAST(count(*) AS DOUBLE) AS tf
  FROM posting p JOIN qt USING (token)
  GROUP BY 1, 2, 3),
dfreq AS (SELECT token, count(DISTINCT id) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks),
scored AS (
  SELECT tf.id,
         round(sum(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tf.tf * (1.2 + 1.0)
           / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / s.avgdl))
         ), 6) AS score
  FROM tf JOIN dfreq d USING (token) CROSS JOIN stats s
  GROUP BY tf.id)
SELECT id, score FROM scored ORDER BY score DESC, id ASC LIMIT 10
"""


def q_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 bigram collocations by PMI (operators/text_analysis.py
    pmi_bigrams): row-local bigram build in codegen, min_count filter
    BEFORE the unigram joins, broadcast 1-row totals, TakeOrdered."""
    from knot_another_pipeline_spark.operators.text_analysis import pmi_bigrams

    docs = load_table(spark, sf_dir, "documents")
    return pmi_bigrams(docs, text_col="text", min_count=5, k=50)


ORACLE_PMI_TOPK = rf"""
WITH toks AS ({_TOKS_SQL}),
pos AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks WHERE len(t) >= 2),
bc AS (
  SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS n_pair FROM pos GROUP BY 1, 2),
uc AS (
  SELECT w, count(*) AS n_w
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1),
nt AS (SELECT sum(n_w) AS n_tokens FROM uc),
nb AS (SELECT sum(n_pair) AS n_bigrams FROM bc),
scored AS (
  SELECT bc.w1, bc.w2, bc.n_pair,
         round(ln((CAST(bc.n_pair AS DOUBLE) / nb.n_bigrams)
                  / ((CAST(ca.n_w AS DOUBLE) / nt.n_tokens)
                     * (CAST(cb.n_w AS DOUBLE) / nt.n_tokens))), 6) AS pmi
  FROM bc
  JOIN uc ca ON ca.w = bc.w1
  JOIN uc cb ON cb.w = bc.w2
  CROSS JOIN nt CROSS JOIN nb
  WHERE bc.n_pair >= 5)
SELECT w1, w2, CAST(n_pair AS BIGINT) AS n_pair, pmi
FROM scored ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 50
"""


def q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard ≥ 0.5 similarity self-join via prefix filtering
    (operators/dedup.py prefix_filter_jaccard_pairs): candidates from
    rarest-first prefix postings only — the oracle computes ALL pairs,
    so a hash match differentially proves the zero-false-negative
    property of the prefix bound."""
    from knot_another_pipeline_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3)
    out = prefix_filter_jaccard_pairs(sh, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


ORACLE_PREFIX_JACCARD = f"""
WITH toks AS ({_TOKS_SQL}),
sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       round(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
"""


def q_decayed_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-weighted engagement per event type as of 2024-01-31
    (operators/temporal.py decayed_agg): pure-codegen weight in the
    scan, one partial+final hash aggregate, point-in-time cutoff."""
    from knot_another_pipeline_spark.operators.temporal import decayed_agg

    ev = load_table(spark, sf_dir, "events")
    return decayed_agg(
        ev,
        group_cols="event_type",
        ts_col="ts",
        ref_ts="2024-01-31 00:00:00",
        half_life="7 days",
        value_col="value",
    )


ORACLE_DECAYED_ENGAGEMENT = """
SELECT event_type,
       round(sum(pow(0.5, (epoch(TIMESTAMP '2024-01-31 00:00:00') - epoch(ts))
                          / 604800.0)), 6) AS decayed_count,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(pow(0.5, (epoch(TIMESTAMP '2024-01-31 00:00:00') - epoch(ts))
                          / 604800.0) * value), 4) AS decayed_sum
FROM events
WHERE ts <= TIMESTAMP '2024-01-31 00:00:00'
GROUP BY event_type
"""


def q_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type winsorized mean/stddev at the [5%, 95%] quantiles
    (operators/quality.py winsorized_stats): two hash aggregates with a
    broadcast bounds join — no window; exact percentile here to match
    quantile_cont, approx_percentile at 100 TB (same plan)."""
    from knot_another_pipeline_spark.operators.quality import winsorized_stats

    ev = load_table(spark, sf_dir, "events")
    return winsorized_stats(
        ev, "event_type", value_col="value", lo=0.05, hi=0.95
    )


ORACLE_WINSORIZED_STATS = """
WITH bounds AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS q_lo,
         quantile_cont(value, 0.95) AS q_hi
  FROM events GROUP BY event_type),
clipped AS (
  SELECT e.event_type, b.q_lo, b.q_hi,
         least(greatest(e.value, b.q_lo), b.q_hi) AS v
  FROM events e JOIN bounds b USING (event_type))
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(q_lo, 4) AS q_lo,
       round(q_hi, 4) AS q_hi,
       round(avg(v), 4) AS win_mean,
       round(stddev_samp(v), 4) AS win_std
FROM clipped GROUP BY event_type, q_lo, q_hi
"""


def _coorder_part_edges(li: DataFrame) -> DataFrame:
    """part↔part same-order co-occurrence edges (src < dst, one row per
    order×pair) via the lp-self-join on the order key.  A posting-list
    rewrite (groupBy l_orderkey + collect_set + row-local C(d, 2)
    enumeration, the shape that won −7…−26% on covisitation_llr /
    basket_rules / link_prediction's wedge step) was A/B'd here at
    sf0.1 interleaved min-of-5 and LOST: triangle_stats 5.7 → 9.2 s
    (+62%), k_core_parts +11% — both consumers re-reference the edge
    frame through eager/lazy localCheckpoint pins whose LogicalRDD
    hides statistics, and the postings' Generate tail replanned their
    downstream joins to SMJ.  Negative result recorded so the next
    round doesn't re-try it."""
    lp = li.select("l_orderkey", "l_partkey").distinct()
    return (
        lp.alias("a")
        .join(
            lp.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )


def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + clustering coefficient over the
    part↔part same-order co-occurrence graph (operators/graph.py
    triangle_stats): degree-ordered orientation bounds wedge fanout by
    √(2m); the oracle counts triangles by the naive canonical triple
    join, so a hash match proves the orientation finds each triangle
    exactly once."""
    from knot_another_pipeline_spark.operators.graph import triangle_stats

    li = load_table(spark, sf_dir, "lineitem")
    return triangle_stats(_coorder_part_edges(li))


ORACLE_TRIANGLE_STATS = """
WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
deg AS (
  SELECT node, count(*) AS degree
  FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
  GROUP BY 1),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
pn AS (
  SELECT node, count(*) AS n_triangles
  FROM (SELECT unnest([a, b, c]) AS node FROM tri)
  GROUP BY 1)
SELECT d.node,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN round(2.0 * coalesce(pn.n_triangles, 0)
                       / (d.degree * (d.degree - 1.0)), 6)
            ELSE 0.0 END AS clustering_coeff
FROM deg d LEFT JOIN pn USING (node)
"""


def q_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-hour proximity pairs within 300 km (operators/pairs.py
    radius_pairs): wrap-correct grid blocking + haversine verify — the
    oracle computes ALL same-hour pair distances, so the hash match
    differentially proves the blocking has no false negatives."""
    from knot_another_pipeline_spark.operators.pairs import radius_pairs

    pos = _positions(spark, sf_dir)
    return radius_pairs(
        pos,
        id_col="event_id",
        radius_m=300000.0,
        time_col="ts",
        time_grain="hour",
        max_abs_lat=75.0,
    )


ORACLE_RADIUS_PAIRS = f"""
WITH pos AS ({_POSITIONS_SQL}),
band AS (
  SELECT event_id, lat, lon, date_trunc('hour', ts) AS bucket_ts
  FROM pos WHERE abs(lat) <= 75.0),
pr AS (
  SELECT a.event_id AS id_a, b.event_id AS id_b, a.bucket_ts,
         round(2 * 6371000.0 * asin(sqrt(
           pow(sin(radians(b.lat - a.lat) / 2), 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * pow(sin(radians(b.lon - a.lon) / 2), 2))), 3) AS distance_m
  FROM band a JOIN band b
    ON a.bucket_ts = b.bucket_ts AND a.event_id < b.event_id)
SELECT id_a, id_b, bucket_ts, distance_m
FROM pr WHERE distance_m <= 300000.0
"""


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embeddings table
    (operators/similarity.py quantize_embeddings): row-local
    transform/aggregate array expressions, zero shuffle; per-vector
    max-abs scale, codes, and reconstruction-error bound."""
    from knot_another_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb, id_col="vec_id", vec_col="embedding")
    # Driver-harness canonicalization: the correctness gate's pandas
    # sort_values cannot order ARRAY cells, so render the codes array as
    # a comma-joined string (the oracle does the identical rendering).
    return out.withColumn(
        "codes", F.array_join(F.col("codes").cast("array<string>"), ",")
    )


ORACLE_QUANTIZE_EMBEDDINGS = """
WITH base AS (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
           AS scale
  FROM embeddings)
SELECT id,
       round(scale, 6) AS scale,
       array_to_string(
         CASE WHEN scale = 0
              THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x -> CAST(round(x / scale * 127.0) AS INT))
         END, ',') AS codes,
       CASE WHEN scale = 0
            THEN 0.0
            ELSE round(list_max(list_transform(
                   v, x -> abs(x - round(x / scale * 127.0) * scale / 127.0)
                 )), 6)
       END AS max_abs_err
FROM base
"""


def q_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup (operators/quality.py
    kmv_sketch + kmv_merge): per-(event_type, day) KMV sketches folded
    up to event_type WITHOUT rescanning raw data. KMV merge is exact
    (k smallest of a union = k smallest of the parts' k-smallest), so
    the oracle simply sketches the union directly — a hash match proves
    the mergeability identity end-to-end."""
    from knot_another_pipeline_spark.operators.quality import (
        kmv_merge,
        kmv_sketch,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    daily = kmv_sketch(ev, "user_id", by=["event_type", "day"], k=64)
    return kmv_merge(daily, by="event_type", k=64)


ORACLE_KMV_ROLLUP = """
WITH d AS (
  SELECT DISTINCT event_type,
         substr(md5(concat('0', ':', CAST(user_id AS VARCHAR))), 1, 15) AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
  FROM d)
SELECT event_type,
       CAST(CASE WHEN count(*) < 64 THEN count(*)
                 ELSE round(63.0 / (CAST(concat('0x', max(h)) AS BIGINT)
                                    / 1152921504606846976.0))
            END AS BIGINT) AS n_distinct_est
FROM r WHERE rn <= 64
GROUP BY event_type
"""


def q_speed_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impossible-speed track cleaning (operators/tracks.py
    speed_filter): per-entity lag window computes implied haversine
    speed between consecutive fixes; fixes over 100 m/s flag as
    'speed'. One entity-key shuffle, pure codegen trig."""
    from knot_another_pipeline_spark.operators.tracks import speed_filter

    pos = _positions(spark, sf_dir)
    out = speed_filter(
        pos,
        uid_col="uid",
        ts_col="ts",
        lat_col="lat",
        lon_col="lon",
        max_speed_mps=100.0,
        tiebreak_col="event_id",
    )
    return out.select("event_id", "uid", "speed_mps", "flag")


ORACLE_SPEED_FILTER = f"""
WITH pos AS ({_POSITIONS_SQL}),
lagged AS (
  SELECT event_id, uid, ts, lat, lon,
         lag(lat) OVER w AS plat,
         lag(lon) OVER w AS plon,
         lag(ts) OVER w AS pts
  FROM pos
  WINDOW w AS (PARTITION BY uid ORDER BY ts ASC, event_id ASC)),
sp AS (
  SELECT event_id, uid,
         epoch(ts) - epoch(pts) AS dt,
         2 * 6371000.0 * asin(sqrt(
           pow(sin(radians(lat - plat) / 2), 2)
           + cos(radians(plat)) * cos(radians(lat))
             * pow(sin(radians(lon - plon) / 2), 2))) AS dist,
         pts
  FROM lagged)
SELECT event_id, uid,
       CASE WHEN pts IS NULL OR dt <= 0 THEN NULL
            ELSE round(dist / dt, 3) END AS speed_mps,
       CASE WHEN pts IS NULL THEN 'ok'
            WHEN dt = 0 AND dist > 0 THEN 'dup_ts'
            WHEN dt > 0 AND dist / dt > 100.0 THEN 'speed'
            ELSE 'ok' END AS flag
FROM sp
"""


def q_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary, min_count 5, capped at 200
    (operators/text_analysis.py build_vocab): token ids assigned via
    the distributed global_rank (range partition + prefix-sum offsets),
    never a single-partition ORDER BY window — the oracle's plain
    row_number proves the distributed ranking is identical."""
    from knot_another_pipeline_spark.operators.text_analysis import build_vocab

    docs = load_table(spark, sf_dir, "documents")
    return build_vocab(docs, text_col="text", min_count=5, max_size=200)


ORACLE_BUILD_VOCAB = rf"""
WITH toks AS ({_TOKS_SQL}),
counts AS (
  SELECT w AS token, count(*) AS n_occurrences
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
  HAVING count(*) >= 5),
ranked AS (
  SELECT token, CAST(n_occurrences AS BIGINT) AS n_occurrences,
         CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC)
              AS BIGINT) AS token_id
  FROM counts)
SELECT token, n_occurrences, token_id FROM ranked WHERE token_id <= 200
"""


def q_encode_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize-for-training (operators/text_analysis.py
    encode_documents): documents become token-id sequences under the
    top-200 vocabulary; OOV tokens map to 0. Position survives the
    vocab join via posexplode + order-restoring sort_array."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        build_vocab,
        encode_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    vocab = build_vocab(docs, text_col="text", min_count=5, max_size=200)
    out = encode_documents(docs, vocab, id_col="doc_id", text_col="text")
    # Driver-harness canonicalization: ARRAY cells are unhashable in the
    # gate's pandas comparator — render as comma-joined string, matching
    # the oracle's array_to_string.
    return out.withColumn(
        "token_ids",
        F.array_join(F.col("token_ids").cast("array<string>"), ","),
    )


ORACLE_ENCODE_DOCUMENTS = rf"""
WITH toks AS ({_TOKS_SQL}),
counts AS (
  SELECT w AS token, count(*) AS n_occurrences
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
  HAVING count(*) >= 5),
vocab AS (
  SELECT token,
         row_number() OVER (ORDER BY n_occurrences DESC, token ASC) AS tid
  FROM counts
  QUALIFY tid <= 200),
flat AS (
  SELECT doc_id AS id, unnest(t) AS token,
         generate_subscripts(t, 1) AS pos
  FROM toks),
mapped AS (
  SELECT f.id, f.pos, CAST(coalesce(v.tid, 0) AS BIGINT) AS tid
  FROM flat f LEFT JOIN vocab v USING (token))
SELECT t.doc_id AS id,
       array_to_string(coalesce(m.token_ids, []), ',') AS token_ids,
       CAST(coalesce(m.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(m.n_oov, 0) AS BIGINT) AS n_oov
FROM toks t
LEFT JOIN (
  SELECT id, list(tid ORDER BY pos) AS token_ids,
         count(*) AS n_tokens,
         sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS n_oov
  FROM mapped GROUP BY id
) m ON m.id = t.doc_id
"""


def q_dwell_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell/stop detection (operators/tracks.py dwell_segments):
    gaps-and-islands over a 500 km movement flag, segments ≥ 1 h —
    lag + running-sum windows sharing one entity shuffle, circular
    longitude centroid."""
    from knot_another_pipeline_spark.operators.tracks import dwell_segments

    pos = _positions(spark, sf_dir)
    return dwell_segments(
        pos,
        uid_col="uid",
        ts_col="ts",
        lat_col="lat",
        lon_col="lon",
        move_threshold_m=500_000.0,
        min_duration_s=3600,
        tiebreak_col="event_id",
    )


ORACLE_DWELL_SEGMENTS = f"""
WITH pos AS ({_POSITIONS_SQL}),
lagged AS (
  SELECT uid, event_id, ts, lat, lon,
         lag(lat) OVER w AS plat, lag(lon) OVER w AS plon
  FROM pos
  WINDOW w AS (PARTITION BY uid ORDER BY ts ASC, event_id ASC)),
flagged AS (
  SELECT uid, event_id, ts, lat, lon,
         CASE WHEN plat IS NULL THEN 1
              WHEN 2 * 6371000.0 * asin(sqrt(
                     pow(sin(radians(lat - plat) / 2), 2)
                     + cos(radians(plat)) * cos(radians(lat))
                       * pow(sin(radians(lon - plon) / 2), 2)))
                   > 500000.0 THEN 1
              ELSE 0 END AS mv
  FROM lagged),
isl AS (
  SELECT uid, ts, lat, lon,
         sum(mv) OVER (PARTITION BY uid ORDER BY ts ASC, event_id ASC)
           AS island
  FROM flagged),
seg AS (
  SELECT uid, island,
         min(ts) AS start_ts, max(ts) AS end_ts,
         CAST(count(*) AS BIGINT) AS n_fixes,
         round(avg(lat), 6) AS center_lat,
         round(degrees(atan2(avg(sin(radians(lon))),
                             avg(cos(radians(lon))))), 6) AS center_lon
  FROM isl GROUP BY 1, 2)
SELECT uid, start_ts, end_ts,
       -- per-timestamp second truncation, mirroring Spark's
       -- timestamp->long cast (NOT a fractional-epoch difference)
       CAST(floor(epoch(end_ts)) - floor(epoch(start_ts)) AS BIGINT)
         AS duration_s,
       n_fixes, center_lat, center_lon
FROM seg
WHERE n_fixes >= 2
  AND floor(epoch(end_ts)) - floor(epoch(start_ts)) >= 3600
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fraction sampling (operators/sampling.py
    stratified_sample): en keeps 50%, de 20%, other languages 10% — a
    pure map-side stable-hash filter, no shuffle, identical ids in any
    engine."""
    from knot_another_pipeline_spark.operators.sampling import (
        stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_sample(
        docs,
        group_col="lang",
        id_col="doc_id",
        fractions={"en": 0.5, "de": 0.2},
        default_fraction=0.1,
    )
    return out.select("doc_id", "lang", "n_chars")


_SS_BUCKET = (
    "(CAST(CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS HUGEINT) * 4294967296"
    " + CAST(concat('0x', substr(sha256(CAST(doc_id AS VARCHAR)), 9, 8)) AS BIGINT)) % 10000"
)

ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {_SS_BUCKET} < CASE lang
  WHEN 'en' THEN 5000
  WHEN 'de' THEN 2000
  ELSE 1000 END
"""


def q_conversion_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch attribution for purchases against click/view
    touches within a 3-day lookback (operators/behavior.py
    conversion_attribution): ONE rangeBetween window over the
    touch∪conversion union per user — never the quadratic
    conversions×touches self-join."""
    from knot_another_pipeline_spark.operators.behavior import (
        conversion_attribution,
    )

    ev = load_table(spark, sf_dir, "events")
    return conversion_attribution(
        ev,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        conversion_type="purchase",
        touch_types=["click", "view"],
        lookback_seconds=3 * 86400,
    )


ORACLE_CONVERSION_ATTRIBUTION = """
WITH base AS (
  SELECT user_id AS "user", ts, event_type AS etype,
         epoch_us(ts) AS us
  FROM events
  WHERE event_type IN ('purchase', 'click', 'view')),
tagged AS (
  SELECT "user", ts, etype,
         min(CASE WHEN etype IN ('click', 'view')
                  THEN lpad(CAST(us + 5000000000000000000 AS VARCHAR),
                            20, '0') || '|' || etype
             END) OVER w AS f,
         max(CASE WHEN etype IN ('click', 'view')
                  THEN lpad(CAST(us + 5000000000000000000 AS VARCHAR),
                            20, '0') || '|' || etype
             END) OVER w AS l
  FROM base
  WINDOW w AS (PARTITION BY "user" ORDER BY us
               RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW))
SELECT "user", ts AS conv_ts,
       -- make_timestamp(us) yields plain TIMESTAMP; to_timestamp would
       -- return TIMESTAMPTZ and shift under a non-UTC host timezone
       make_timestamp(CAST(substr(f, 1, 20) AS BIGINT)
                      - 5000000000000000000) AS first_touch_ts,
       substr(f, 22) AS first_touch_type,
       make_timestamp(CAST(substr(l, 1, 20) AS BIGINT)
                      - 5000000000000000000) AS last_touch_ts,
       substr(l, 22) AS last_touch_type
FROM tagged WHERE etype = 'purchase'
"""


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/search.py hybrid_search): BM25 top-50
    fused with exact-cosine top-50 for query vector 7 via reciprocal
    rank fusion — rank-only fusion, no cross-system score calibration;
    the fusion stage is bounded by k_each, never the corpus."""
    from knot_another_pipeline_spark.operators.search import hybrid_search

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    out = hybrid_search(
        docs,
        emb,
        id_col="doc_id",
        text_col="text",
        query="hash join filter",
        query_vec_id=7,
        k=15,
        k_each=50,
    )
    return out.select(
        "id",
        F.col("lex_rank").cast("bigint").alias("lex_rank"),
        F.col("vec_rank").cast("bigint").alias("vec_rank"),
        "rrf_score",
    )


ORACLE_HYBRID_SEARCH = rf"""
WITH toks AS ({_TOKS_SQL}),
base AS (SELECT doc_id AS id, CAST(len(t) AS DOUBLE) AS dl, t FROM toks),
posting AS (SELECT id, dl, unnest(t) AS token FROM base),
qt AS (SELECT unnest(['filter', 'hash', 'join']) AS token),
tf AS (
  SELECT p.id, p.dl, p.token, CAST(count(*) AS DOUBLE) AS tf
  FROM posting p JOIN qt USING (token)
  GROUP BY 1, 2, 3),
dfreq AS (SELECT token, count(DISTINCT id) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks),
bm25 AS (
  -- round BEFORE ranking: the Spark leg ranks on bm25_search's
  -- round(sum, 6) score, so the oracle must tie-break identically
  SELECT tf.id,
         round(sum(ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * tf.tf * (1.2 + 1.0)
             / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tf.dl / s.avgdl))), 6)
           AS score
  FROM tf JOIN dfreq d USING (token) CROSS JOIN stats s
  GROUP BY tf.id),
lex AS (
  SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS lex_rank
  FROM bm25 QUALIFY lex_rank <= 50),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT v, sqrt(list_dot_product(v, v)) AS n FROM e WHERE vec_id = 7),
cos AS (
  SELECT e.vec_id AS id,
         list_dot_product(qv.v, e.v) / (qv.n * sqrt(list_dot_product(e.v, e.v)))
           AS cos_sim
  FROM e CROSS JOIN qv WHERE e.vec_id != 7),
vec AS (
  SELECT id, row_number() OVER (ORDER BY cos_sim DESC, id ASC) AS vec_rank
  FROM cos QUALIFY vec_rank <= 50),
fused AS (
  SELECT coalesce(lex.id, vec.id) AS id,
         CAST(lex.lex_rank AS BIGINT) AS lex_rank,
         CAST(vec.vec_rank AS BIGINT) AS vec_rank,
         round(coalesce(1.0 / (60 + lex.lex_rank), 0)
               + coalesce(1.0 / (60 + vec.vec_rank), 0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN vec ON lex.id = vec.id)
SELECT id, lex_rank, vec_rank, rrf_score
FROM fused ORDER BY rrf_score DESC, id ASC LIMIT 15
"""


def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (operators/relational.py
    bloom_filter_build/probe): the BUILDING-segment customer keys
    compress to a 4 KB bit array that pre-filters the orders scan in
    codegen — no shuffle of the fact side. md5-derived bits make even
    this probabilistic structure hash-differential-testable: the
    oracle replays the identical bit set, false positives included."""
    from knot_another_pipeline_spark.operators.relational import (
        bloom_filter_build,
        bloom_filter_probe,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    bloom = bloom_filter_build(
        cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey"),
        "c_custkey",
        num_bits=1 << 15,
        num_hashes=4,
    )
    out = bloom_filter_probe(orders, "o_custkey", bloom, num_hashes=4)
    return out.select("o_orderkey", "o_custkey")


ORACLE_BLOOM_PRUNE = """
WITH member_bits AS (
  SELECT DISTINCT
         CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || ':'
               || CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 32768
           AS bit
  FROM customer, unnest([0, 1, 2, 3]) AS t(i)
  WHERE c_mktsegment = 'BUILDING'),
probe_bits AS (
  SELECT o_orderkey, o_custkey,
         CAST(concat('0x', substr(md5(CAST(i AS VARCHAR) || ':'
               || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 32768
           AS bit
  FROM orders, unnest([0, 1, 2, 3]) AS t(i)),
passing AS (
  SELECT o_orderkey
  FROM probe_bits JOIN member_bits USING (bit)
  GROUP BY o_orderkey
  HAVING count(*) = 4)
SELECT o.o_orderkey, o.o_custkey
FROM orders o JOIN passing USING (o_orderkey)
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing into 512-token training windows
    (operators/sampling.py pack_sequences): the id-ordered distributed
    prefix-sum (no global window), then row-local pack arithmetic. The
    oracle's single-window cumsum proves the bucketed prefix-sum exact."""
    from knot_another_pipeline_spark.operators.sampling import pack_sequences
    from knot_another_pipeline_spark.operators.text_analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs.withColumn("n_tok", token_count(F.col("text"))),
        id_col="doc_id",
        token_col="n_tok",
        seq_len=512,
    )


ORACLE_PACK_SEQUENCES = rf"""
WITH toks AS ({_TOKS_SQL}),
n AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens
      FROM toks WHERE len(t) > 0),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (
           ORDER BY doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM n)
SELECT doc_id AS id, n_tokens,
       CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
       CAST((cum - n_tokens) % 512 AS BIGINT) AS offset_in_pack,
       CAST(floor((cum - 1) / 512.0)
            - floor((cum - n_tokens) / 512.0) + 1 AS BIGINT)
         AS n_packs_spanned
FROM c
"""


def q_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic Lloyd iteration over the embeddings
    (operators/similarity.py kmeans_step): md5-hash-sample init, argmax
    assignment collapsed map-side, posexplode centroid update, L2 shift
    as the convergence signal — the oracle replays the identical step."""
    from knot_another_pipeline_spark.operators.similarity import kmeans_step

    emb = load_table(spark, sf_dir, "embeddings")
    out = kmeans_step(
        emb, id_col="vec_id", vec_col="embedding", num_centroids=8
    )
    # Driver-harness canonicalization: render the centroid array as a
    # comma-joined fixed-point string (DECIMAL(18,6) text form is
    # identical in Spark and DuckDB, unlike raw double formatting).
    return out.withColumn(
        "new_centroid",
        F.array_join(
            F.transform(
                F.col("new_centroid"),
                lambda x: x.cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ),
    )


ORACLE_KMEANS_STEP = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
cents AS (SELECT vec_id AS cent_id, v AS centv, nn AS centn
          FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 8),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT n.vec_id, n.v, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, c.centv) / (n.nn * c.centn) DESC,
                      c.cent_id ASC) AS rn
    FROM n CROSS JOIN cents c) WHERE rn = 1),
flat AS (SELECT cell, generate_subscripts(v, 1) AS pos, unnest(v) AS comp
         FROM assigned),
agg AS (SELECT cell, pos, avg(comp) AS m, count(*) AS nv
        FROM flat GROUP BY 1, 2),
newc AS (SELECT cell, CAST(max(nv) AS BIGINT) AS n_vectors,
                array_to_string(
                  list(CAST(CAST(round(m, 6) AS DECIMAL(18,6)) AS VARCHAR)
                       ORDER BY pos), ',') AS new_centroid
         FROM agg GROUP BY cell),
shiftt AS (SELECT a.cell,
                  round(sqrt(sum(pow(a.m - c.centv[a.pos], 2))), 6) AS shift
           FROM agg a JOIN cents c ON c.cent_id = a.cell GROUP BY a.cell)
SELECT n.cell, n.n_vectors, n.new_centroid, s.shift
FROM newc n JOIN shiftt s USING (cell)
"""


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction (operators/graph.py
    common_neighbor_scores) over the order↔part co-purchase graph:
    parts sharing ≥2 orders, wedges generated only through shared
    neighbors with the degree-10 apex cap keeping part hubs out of the
    quadratic role (orders have bounded degree; parts do not)."""
    from knot_another_pipeline_spark.operators.graph import (
        common_neighbor_scores,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # BIGINT node encoding through the wedge/degree/anti-join shuffles
    # (guide §2.3, r12 — the pagerank-family relabeling). cn/jaccard are
    # symmetric and degrees attach per node, so the only orientation-
    # sensitive step is the FINAL pair canonicalization: decode, then
    # re-orient each pair to the lexicographic (string) order the
    # declared output always had, swapping the degree columns with it.
    edges = li.select(
        _bip_even(F.col("l_orderkey")).alias("src"),
        _bip_odd(F.col("l_partkey")).alias("dst"),
    )
    out = common_neighbor_scores(
        edges, min_common=2, max_degree=10, exclude_existing=True
    )
    sa = _bip_decode(F.col("node_a"), "o:", "p:")
    sb = _bip_decode(F.col("node_b"), "o:", "p:")
    first_a = sa <= sb
    return out.select(
        F.least(sa, sb).alias("node_a"),
        F.greatest(sa, sb).alias("node_b"),
        "common_neighbors",
        F.when(first_a, F.col("degree_a"))
        .otherwise(F.col("degree_b"))
        .alias("degree_a"),
        F.when(first_a, F.col("degree_b"))
        .otherwise(F.col("degree_a"))
        .alias("degree_b"),
        "jaccard",
    )


ORACLE_LINK_PREDICTION = """
WITH e AS (
  SELECT DISTINCT 'o:' || l_orderkey AS u, 'p:' || l_partkey AS v
  FROM lineitem),
adj AS (SELECT u AS node, v AS nbr FROM e
        UNION ALL SELECT v AS node, u AS nbr FROM e),
deg AS (SELECT node, count(*) AS degree FROM adj GROUP BY 1),
apex AS (SELECT a.node, a.nbr FROM adj a
         JOIN deg d ON d.node = a.nbr WHERE d.degree <= 10),
pairs AS (
  SELECT w1.node AS node_a, w2.node AS node_b,
         CAST(count(*) AS BIGINT) AS cn
  FROM apex w1 JOIN apex w2
    ON w1.nbr = w2.nbr AND w1.node < w2.node
  GROUP BY 1, 2 HAVING count(*) >= 2),
noedge AS (
  SELECT p.* FROM pairs p
  LEFT JOIN e ON e.u = p.node_a AND e.v = p.node_b
  WHERE e.u IS NULL)
SELECT p.node_a, p.node_b, p.cn AS common_neighbors,
       da.degree AS degree_a, db.degree AS degree_b,
       round(CAST(p.cn AS DOUBLE)
             / (da.degree + db.degree - p.cn), 6) AS jaccard
FROM noedge p
JOIN deg da ON da.node = p.node_a
JOIN deg db ON db.node = p.node_b
"""


def q_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote label aggregation (operators/quality.py
    majority_vote): each user's modal event type with agreement
    diagnostics, ties toward the lexicographically smallest label —
    the multi-annotator consensus shape on the events table."""
    from knot_another_pipeline_spark.operators.quality import majority_vote

    ev = load_table(spark, sf_dir, "events")
    return majority_vote(ev, item_col="user_id", label_col="event_type")


ORACLE_LABEL_VOTE = """
WITH counts AS (
  SELECT user_id AS item, event_type AS label,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE event_type IS NOT NULL
  GROUP BY 1, 2),
ranked AS (
  SELECT item, label, n,
         CAST(sum(n) OVER (PARTITION BY item) AS BIGINT) AS n_total,
         CAST(count(*) OVER (PARTITION BY item) AS BIGINT) AS n_labels,
         row_number() OVER (PARTITION BY item
                            ORDER BY n DESC, label ASC) AS rn
  FROM counts)
SELECT item, label AS majority_label, n AS n_votes, n_total, n_labels,
       round(CAST(n AS DOUBLE) / n_total, 6) AS agreement
FROM ranked WHERE rn = 1
"""


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware canonical selection (operators/dedup.py
    canonical_docs): MinHash-LSH pairs → connected components → one
    merit-chosen survivor per cluster (longest text, ties to smallest
    id) via aggregate argmax, singletons self-canonical. The executable
    definition of "deduplicated corpus" downstream of any pair
    generator."""
    from knot_another_pipeline_spark.operators.dedup import (
        canonical_docs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3,
                       distinct=False)
    sig = minhash_signatures(sh, num_hashes=16)
    cands = lsh_candidate_pairs(sig, bands=4, rows_per_band=4)
    return canonical_docs(docs, cands, id_col="doc_id", text_col="text")


ORACLE_CANONICAL_DOCS = f"""
WITH comp AS (SELECT id, component FROM ({ORACLE_DEDUP_COMPONENTS}) t),
m AS (
  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
         coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
reps AS (
  SELECT cluster_id, cluster_size, doc_id AS rep_id FROM (
    SELECT cluster_id, doc_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id ASC) AS rn
    FROM m) WHERE rn = 1)
SELECT m.doc_id, m.cluster_id, r.cluster_size, r.rep_id,
       m.doc_id = r.rep_id AS is_rep
FROM m JOIN reps r USING (cluster_id)
"""


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature rebalancing across languages
    (operators/sampling.py temperature_mix): per-language keep
    fractions from p^(α−1) normalized to the rarest language, then a
    map-side stable-hash acceptance filter — the multilingual
    data-balancing step, downsample-only."""
    from knot_another_pipeline_spark.operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(
        docs, group_col="lang", id_col="doc_id", alpha=0.5
    )


ORACLE_TEMPERATURE_MIX = """
WITH counts AS (SELECT lang, count(*) AS n FROM documents GROUP BY 1),
tot AS (SELECT sum(n) AS total FROM counts),
rates AS (
  SELECT lang,
         pow(CAST(n AS DOUBLE) / (SELECT total FROM tot), -0.5) AS r
  FROM counts),
norm AS (SELECT max(r) AS r_max FROM rates),
fr AS (SELECT lang, r / (SELECT r_max FROM norm) AS keep_fraction
       FROM rates)
SELECT d.doc_id AS id, d.lang, round(f.keep_fraction, 6) AS keep_fraction
FROM documents d JOIN fr f USING (lang)
WHERE CAST(concat('0x', substr(md5('0:' || CAST(d.doc_id AS VARCHAR)),
                               1, 15)) AS BIGINT)
      / 1152921504606846976.0 < f.keep_fraction
"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (operators/quality.py
    k_anonymity_audit) over the (nation, market segment) quasi-identifier
    with account balance as the sensitive attribute — one hash
    aggregate, class sizes + violation flags."""
    from knot_another_pipeline_spark.operators.quality import (
        k_anonymity_audit,
    )

    cust = load_table(spark, sf_dir, "customer")
    return k_anonymity_audit(
        cust,
        quasi_cols=["c_nationkey", "c_mktsegment"],
        k=5,
        sensitive_col="c_acctbal",
    )


ORACLE_K_ANONYMITY = """
SELECT c_nationkey, c_mktsegment,
       CAST(count(*) AS BIGINT) AS class_size,
       count(*) < 5 AS below_k,
       CAST(count(DISTINCT c_acctbal) AS BIGINT) AS l_diversity
FROM customer GROUP BY 1, 2
"""


def q_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch corpus overlap (operators/quality.py sketch_overlap):
    3-gram shingle sets of the English vs German documents reduce to
    two 128-hash sketches; union/intersection/Jaccard estimates follow
    from array math — the corpora are never joined. The oracle replays
    the identical k-smallest sets."""
    from knot_another_pipeline_spark.operators.dedup import shingle_table
    from knot_another_pipeline_spark.operators.quality import sketch_overlap

    docs = load_table(spark, sf_dir, "documents")
    sha = shingle_table(
        docs.filter(F.col("lang") == "en"), id_col="doc_id",
        text_col="text", n=3, distinct=False,
    )
    shb = shingle_table(
        docs.filter(F.col("lang") == "de"), id_col="doc_id",
        text_col="text", n=3, distinct=False,
    )
    return sketch_overlap(sha, shb, "shingle", k=128)


def _overlap_shingle_sql(lang: str) -> str:
    return rf"""
  SELECT DISTINCT substr(md5('0:' || sh), 1, 15) AS h FROM (
    SELECT unnest(list_distinct(
             list_transform(range(1, greatest(len(t) - 1, 1)),
                            i -> array_to_string(list_slice(t, i, i + 2),
                                                 ' ')))) AS sh
    FROM (
      SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                         x -> x != '') AS t
      FROM documents WHERE lang = '{lang}') WHERE len(t) >= 3)
"""


_OVERLAP_EST_SQL = """
  CASE WHEN m < 128 THEN CAST(m AS DOUBLE)
       ELSE round(127.0 / (CAST(concat('0x', mx) AS BIGINT)
                           / 1152921504606846976.0), 0) END
"""


ORACLE_SKETCH_OVERLAP = f"""
WITH sha AS ({_overlap_shingle_sql("en")}),
shb AS ({_overlap_shingle_sql("de")}),
ka AS (SELECT h FROM sha ORDER BY h LIMIT 128),
kb AS (SELECT h FROM shb ORDER BY h LIMIT 128),
ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
       ORDER BY h LIMIT 128),
ea AS (SELECT count(*) AS m, max(h) AS mx FROM ka),
eb AS (SELECT count(*) AS m, max(h) AS mx FROM kb),
eu AS (SELECT count(*) AS m, max(h) AS mx FROM ku),
est AS (
  SELECT (SELECT {_OVERLAP_EST_SQL} FROM ea) AS n_a,
         (SELECT {_OVERLAP_EST_SQL} FROM eb) AS n_b,
         (SELECT {_OVERLAP_EST_SQL} FROM eu) AS n_u)
SELECT CAST(n_a AS BIGINT) AS n_a_est,
       CAST(n_b AS BIGINT) AS n_b_est,
       CAST(n_u AS BIGINT) AS n_union_est,
       CAST(greatest(0.0, n_a + n_b - n_u) AS BIGINT) AS n_intersect_est,
       round(CASE WHEN n_u > 0
                  THEN greatest(0.0, n_a + n_b - n_u) / n_u
                  ELSE 0.0 END, 6) AS jaccard_est
FROM est
"""


_ZONES = [
    (
        "north_triangle",
        [(-120.3, 10.7), (-40.9, 12.3), (-80.1, 70.6)],
    ),
    (
        "south_quad",
        [(20.13, -75.2), (150.7, -71.9), (140.2, -20.4), (30.8, -25.55)],
    ),
    (
        "mid_pentagon",
        [(-30.5, -15.3), (10.9, -20.1), (25.7, 5.2), (0.3, 25.9),
         (-25.1, 15.4)],
    ),
]


def q_zone_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofencing (operators/tracks.py assign_zones): positions tagged
    with the polygon zones containing them — broadcast zone catalog,
    row-local bbox prune, exact ray-cast in pure expressions. The
    oracle applies the ray cast WITHOUT the bbox prune, so the hash
    match proves the prune loses nothing."""
    from knot_another_pipeline_spark.operators.tracks import assign_zones

    pos = _positions(spark, sf_dir)
    zones = spark.createDataFrame(
        [(name, [{"lon": x, "lat": y} for x, y in ring]) for name, ring in _ZONES],
        "zone string, polygon array<struct<lon:double, lat:double>>",
    )
    out = assign_zones(pos, zones, id_col="event_id")
    return out.select(
        "id", "zone",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
    )


def _zone_values_sql() -> str:
    rows = []
    for name, ring in _ZONES:
        structs = ", ".join(
            f"{{'lon': {x!r}, 'lat': {y!r}}}" for x, y in ring
        )
        rows.append(f"('{name}', [{structs}])")
    return ",\n         ".join(rows)


ORACLE_ZONE_ASSIGN = f"""
WITH pos AS ({_POSITIONS_SQL}),
zones(zone, poly) AS (
  VALUES {_zone_values_sql()})
SELECT p.event_id AS id, z.zone,
       round(p.lat, 6) AS lat, round(p.lon, 6) AS lon
FROM pos p JOIN zones z
  ON len(list_filter(range(0, len(z.poly)), i ->
       ((z.poly[i + 1].lat > p.lat)
        <> (z.poly[CASE WHEN i = len(z.poly) - 1 THEN 1 ELSE i + 2 END].lat
            > p.lat))
       AND p.lon <
           (z.poly[CASE WHEN i = len(z.poly) - 1 THEN 1 ELSE i + 2 END].lon
            - z.poly[i + 1].lon)
           * (p.lat - z.poly[i + 1].lat)
           / (z.poly[CASE WHEN i = len(z.poly) - 1 THEN 1 ELSE i + 2 END].lat
              - z.poly[i + 1].lat)
           + z.poly[i + 1].lon)) % 2 = 1
"""


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase matching for "hash join" (operators/search.py
    phrase_search): zero-shuffle row-local sliding slice-equality over
    the token arrays — the quoted-query semantics bag-of-words ranking
    cannot express."""
    from knot_another_pipeline_spark.operators.search import phrase_search

    docs = load_table(spark, sf_dir, "documents")
    return phrase_search(
        docs, id_col="doc_id", text_col="text", phrase="hash join"
    )


ORACLE_PHRASE_SEARCH = rf"""
WITH toks AS ({_TOKS_SQL}),
m AS (
  SELECT doc_id AS id, CAST(len(t) AS BIGINT) AS n_tokens,
         list_filter(range(0, len(t) - 1), i ->
           list_slice(t, i + 1, i + 2) = ['hash', 'join']) AS pos
  FROM toks)
SELECT id, CAST(len(pos) AS BIGINT) AS n_occurrences,
       CAST(pos[1] AS BIGINT) AS first_pos, n_tokens
FROM m WHERE len(pos) > 0
"""


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted value per user (operators/temporal.py
    time_weighted_avg): one lead window establishes holding intervals
    (6-hour stale cap), intervals explode row-locally into the hours
    they span, clip, and hash-aggregate — the honest mean for
    irregular observation streams."""
    from knot_another_pipeline_spark.operators.temporal import (
        time_weighted_avg,
    )

    ev = load_table(spark, sf_dir, "events")
    return time_weighted_avg(
        ev,
        entity_col="user_id",
        ts_col="ts",
        value_col="value",
        bucket="hour",
        max_hold="6 hours",
        tiebreak_col="event_id",
    )


ORACLE_TIME_WEIGHTED_AVG = """
WITH s AS (
  SELECT user_id AS e, ts, CAST(value AS DOUBLE) AS v,
         lead(ts) OVER (PARTITION BY user_id
                        ORDER BY ts ASC, event_id ASC) AS nxt
  FROM events),
capped AS (
  SELECT e, ts, v, least(nxt, ts + INTERVAL 6 HOUR) AS nxt
  FROM s WHERE nxt IS NOT NULL),
pos AS (SELECT * FROM capped WHERE nxt > ts),
spanned AS (
  SELECT e, ts, nxt, v,
         unnest(generate_series(
           date_trunc('hour', ts),
           date_trunc('hour', nxt - INTERVAL 1 MICROSECOND),
           INTERVAL 1 HOUR)) AS b
  FROM pos),
segs AS (
  SELECT e, b, v,
         (epoch_us(least(nxt, b + INTERVAL 1 HOUR))
          - epoch_us(greatest(ts, b))) / 1e6 AS dur
  FROM spanned)
SELECT e AS user_id, b AS bucket_ts,
       round(sum(v * dur) / sum(dur), 6) AS twa,
       round(sum(dur), 6) AS covered_s
FROM segs GROUP BY 1, 2
"""


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out smoothed target encoding of order priority against
    order value (operators/features.py target_encode): per-category
    (n, sum) + 1-row global mean + row-local LOO arithmetic — the
    leakage-guarded high-cardinality categorical feature."""
    from knot_another_pipeline_spark.operators.features import target_encode

    orders = load_table(spark, sf_dir, "orders")
    return target_encode(
        orders,
        id_col="o_orderkey",
        category_col="o_orderpriority",
        target_col="o_totalprice",
        smoothing=20.0,
    )


ORACLE_TARGET_ENCODE = """
WITH s AS (
  SELECT o_orderkey AS id, o_orderpriority AS category,
         CAST(o_totalprice AS DOUBLE) AS target
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
stats AS (SELECT category, count(*) AS n, sum(target) AS sm
          FROM s GROUP BY 1),
mu AS (SELECT avg(target) AS mu FROM s)
SELECT s.id, s.category, s.target,
       round((st.sm - s.target + 20.0 * (SELECT mu FROM mu))
             / (st.n - 1 + 20.0), 6) AS te
FROM s JOIN stats st USING (category)
"""


def q_hash_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (operators/features.py hash_features): market
    segment + nation key become sparse ±1 coordinates in a 1024-dim
    space, md5-derived index and sign — no vocabulary anywhere, layout
    bit-identical in the oracle."""
    from knot_another_pipeline_spark.operators.features import hash_features

    cust = load_table(spark, sf_dir, "customer")
    return hash_features(
        cust,
        id_col="c_custkey",
        cols=["c_mktsegment", "c_nationkey"],
        num_features=1024,
    )


ORACLE_HASH_FEATURES = """
WITH c AS (
  SELECT id, col, val FROM (
    SELECT c_custkey AS id, 'c_mktsegment' AS col,
           CAST(c_mktsegment AS VARCHAR) AS val FROM customer
    UNION ALL
    SELECT c_custkey, 'c_nationkey', CAST(c_nationkey AS VARCHAR)
    FROM customer)
  WHERE val IS NOT NULL),
h AS (
  SELECT id,
         CAST(concat('0x', substr(md5('0:' || col || '=' || val), 1, 15))
              AS BIGINT) % 1024 AS feature_idx,
         CASE WHEN CAST(concat('0x',
                        substr(md5('1:' || col || '=' || val), 1, 15))
                   AS BIGINT) % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM c)
SELECT id, feature_idx, CAST(sum(sgn) AS BIGINT) AS feature_val
FROM h GROUP BY 1, 2 HAVING sum(sgn) <> 0
"""


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit conformance of order values per priority
    class (operators/quality.py benford_check): nine conditional sums
    on one shuffle, string-robust digit extraction, chi-square + MAD
    against the shared expected-probability literals."""
    from knot_another_pipeline_spark.operators.quality import benford_check

    orders = load_table(spark, sf_dir, "orders")
    return benford_check(
        orders, value_col="o_totalprice", by="o_orderpriority"
    )


def _benford_oracle_sql() -> str:
    from knot_another_pipeline_spark.operators.quality import BENFORD_EXPECTED

    sums = ",\n         ".join(
        f"sum(CASE WHEN d = '{k}' THEN 1 ELSE 0 END) AS _n{k}"
        for k in range(1, 10)
    )
    chi2 = " + ".join(
        f"pow(_n{k} - n * {e!r}, 2) / (n * {e!r})"
        for k, e in zip(range(1, 10), BENFORD_EXPECTED)
    )
    mad = " + ".join(
        f"abs(_n{k} / n - {e!r})"
        for k, e in zip(range(1, 10), BENFORD_EXPECTED)
    )
    return f"""
WITH s AS (
  SELECT o_orderpriority,
         regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]', 0) AS d
  FROM orders),
f AS (SELECT * FROM s WHERE d <> ''),
counts AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         {sums}
  FROM f GROUP BY 1),
c2 AS (
  -- DuckDB `/` on integers is true division and n * <double literal>
  -- is double, so the arithmetic below is float throughout
  SELECT o_orderpriority, n,
         {chi2} AS chi2_raw,
         ({mad}) / 9.0 AS mad_raw
  FROM counts)
SELECT o_orderpriority, n, round(chi2_raw, 6) AS chi2,
       round(mad_raw, 6) AS mad, chi2_raw > 15.507 AS suspicious
FROM c2
"""


ORACLE_BENFORD = _benford_oracle_sql()


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/features.py dsir_weights):
    hashed-unigram log-ratio of a curated target slice (doc_id % 4 = 0)
    vs the whole corpus, 512 feature buckets — the data-selection
    signal from Xie et al. 2023, fully relational and oracle-exact."""
    from knot_another_pipeline_spark.operators.features import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    out = dsir_weights(
        docs,
        docs.filter(F.col("doc_id") % 4 == 0),
        id_col="doc_id",
        text_col="text",
        num_buckets=512,
    )
    return out.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "logweight",
        "avg_logratio",
    )


ORACLE_DSIR_WEIGHTS = rf"""
WITH toks AS ({_TOKS_SQL}),
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
b AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5('0:' || tok), 1, 15)) AS BIGINT)
           % 512 AS bucket
  FROM tok),
src AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS cs FROM b GROUP BY 1),
tgt AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS ct FROM b
        WHERE doc_id % 4 = 0 GROUP BY 1),
m AS (
  SELECT coalesce(s.bucket, t.bucket) AS bucket,
         coalesce(cs, 0) AS cs, coalesce(ct, 0) AS ct
  FROM src s FULL OUTER JOIN tgt t ON s.bucket = t.bucket),
tot AS (SELECT sum(cs) AS ns, sum(ct) AS nt FROM m),
r AS (
  SELECT bucket,
         ln((ct + 0.5) / (nt + 0.5 * 512))
           - ln((cs + 0.5) / (ns + 0.5 * 512)) AS lr
  FROM m CROSS JOIN tot)
SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(sum(lr), 6) AS logweight,
       round(sum(lr) / count(*), 6) AS avg_logratio
FROM b JOIN r USING (bucket) GROUP BY 1
"""


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the banded-LSH index vs exact brute force
    (operators/similarity.py ann_recall): the ANN tuning loop's metric,
    computed entirely from the two top-k tables."""
    from knot_another_pipeline_spark.operators.similarity import ann_recall

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = cosine_topk(
        queries, emb, id_col="vec_id", vec_col="embedding", k=5
    )
    approx = lsh_bucket_topk(
        queries, emb, id_col="vec_id", vec_col="embedding",
        dim=64, bands=4, rows_per_band=8, k=5,
    )
    return ann_recall(exact, approx)


ORACLE_ANN_RECALL = f"""
WITH exact AS (SELECT * FROM ({ORACLE_KNN_BRUTEFORCE}) x),
approx AS (SELECT * FROM ({ORACLE_ANN_LSH}) y),
ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
       FROM exact GROUP BY 1),
na AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_approx
       FROM approx GROUP BY 1),
h AS (
  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
  FROM exact e JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1)
SELECT ne.query_id, n_exact,
       coalesce(n_approx, 0) AS n_approx,
       coalesce(n_hit, 0) AS n_hit,
       round(coalesce(n_hit, 0) / n_exact, 6) AS recall
FROM ne LEFT JOIN na ON ne.query_id = na.query_id
LEFT JOIN h ON ne.query_id = h.query_id
"""


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy in bits
    (operators/text_analysis.py token_entropy): the lexical-diversity
    quality signal, one-aggregate identity H = (ln N − Σc·ln c/N)/ln 2,
    doc-id-keyed aggregates so hot tokens never become shuffle keys."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        token_entropy,
    )

    docs = load_table(spark, sf_dir, "documents")
    return token_entropy(docs, id_col="doc_id", text_col="text").select(
        F.col("id").alias("doc_id"),
        "n_tokens", "n_types", "entropy", "entropy_norm",
    )


ORACLE_TOKEN_ENTROPY = rf"""
WITH toks AS ({_TOKS_SQL}),
tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
c AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS cnt
      FROM tok GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       round((ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt)) / ln(2),
             6) AS entropy,
       round(((ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt)) / ln(2))
             / nullif(ln(CAST(count(*) AS DOUBLE)) / ln(2), 0),
             6) AS entropy_norm
FROM c GROUP BY doc_id
"""


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outliers on event value per event type
    (operators/quality.py mad_outliers): modified z-score against
    exact median/MAD — the heavy-tail-proof sibling of anomaly_zscore,
    classic 3.5 cutoff (events.value is heavy-tailed: max |z| ≈ 12)."""
    from knot_another_pipeline_spark.operators.quality import mad_outliers

    events = load_table(spark, sf_dir, "events")
    return mad_outliers(
        events,
        id_col="event_id",
        value_col="value",
        by="event_type",
        k=3.5,
    )


ORACLE_MAD_OUTLIERS = """
WITH s AS (
  SELECT event_id AS id, event_type AS grp,
         CAST(value AS DOUBLE) AS value
  FROM events WHERE value IS NOT NULL),
med AS (SELECT grp, round(quantile_cont(value, 0.5), 6) AS med
        FROM s GROUP BY 1),
dev AS (SELECT s.*, med, abs(value - med) AS adev
        FROM s JOIN med USING (grp)),
mad AS (SELECT grp, round(quantile_cont(adev, 0.5), 6) AS mad
        FROM dev GROUP BY 1),
sc AS (
  SELECT dev.id, dev.grp, dev.value, dev.med, mad.mad,
         round((value - med) / nullif(1.4826 * mad.mad, 0), 6)
           AS robust_z
  FROM dev JOIN mad USING (grp))
SELECT id, grp, value, med, mad, robust_z
FROM sc WHERE abs(robust_z) > 3.5
"""


def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual hash per media payload (operators/multimodal.py
    phash_media): 8x8 fake-decoded thumbnail → integer-exact average
    hash, 64 bits as hex + two positive bigint halves. The near-dup
    key for image corpora; banding/pairing is phash_pairs (unit-tested
    — no exact-dup payloads exist at this SF to pair up)."""
    from knot_another_pipeline_spark.operators.multimodal import phash_media

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return phash_media(docs, id_col="doc_id", payload_col="payload")


ORACLE_MEDIA_PHASH = """
WITH px AS (
  SELECT doc_id, 16 * b + j AS i,
         CAST(concat('0x', substr(md5(text || ':' || b), 2 * j + 1, 2))
              AS INTEGER) AS v
  FROM documents,
       unnest(generate_series(0, 3)) AS bb(b),
       unnest(generate_series(0, 15)) AS jj(j)),
tot AS (SELECT doc_id, sum(v) AS total FROM px GROUP BY 1),
bits AS (
  -- NULL text -> NULL pixels -> NULL bits; sum/string_agg then yield a
  -- NULL hash, matching phash_media's NULL-payload rows (a bare CASE
  -- would silently turn NULL comparisons into an all-zero hash)
  SELECT px.doc_id, i,
         CASE WHEN v IS NULL THEN NULL
              WHEN v * 64 > total THEN 1 ELSE 0 END AS bit
  FROM px JOIN tot ON px.doc_id = tot.doc_id),
nib AS (
  SELECT doc_id, i // 4 AS n,
         sum(bit * CASE i % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                              WHEN 2 THEN 2 ELSE 1 END) AS nv
  FROM bits GROUP BY 1, 2),
ph AS (
  SELECT doc_id, lower(string_agg(to_hex(nv), '' ORDER BY n)) AS phash
  FROM nib GROUP BY 1)
SELECT doc_id, phash,
       CAST(concat('0x', substr(phash, 1, 8)) AS BIGINT) AS phash_hi,
       CAST(concat('0x', substr(phash, 9, 8)) AS BIGINT) AS phash_lo
FROM ph
"""


_BPE_N_MERGES = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First six BPE merge rules learned from the corpus
    (operators/text_analysis.py bpe_learn): word-frequency table from
    the standard tokenizer, iterative argmax pair merging with
    deterministic (count desc, a, b) tie-breaks — the Sennrich
    algorithm with V-row state, corpus scanned once."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        _tokens,
        bpe_learn,
    )

    docs = load_table(spark, sf_dir, "documents")
    # fan_out: the tokenize+explode feeding the word counts is
    # expensive row-local work on a one-row-group scan (guide §2.5)
    words = (
        fan_out_small_scan(docs)
        .select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    learned = bpe_learn(words, n_merges=_BPE_N_MERGES)
    return spark.createDataFrame(
        learned, "rank bigint, a string, b string, pair_count bigint"
    )


def _bpe_oracle_sql(n_merges: int) -> str:
    parts = [
        r"""WITH w AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(
                 string_split_regex(trim(lower(text)), '\s+'),
                 x -> x != '')) AS tok
        FROM documents)
  GROUP BY 1),
s0 AS MATERIALIZED (
  SELECT '  ' || regexp_replace(word, '(.)', '\1  ', 'g') || '</w>  '
         AS sym, cnt FROM w)"""
    ]
    for r in range(n_merges):
        parts.append(
            f"""l{r} AS (SELECT list_filter(string_split_regex(trim(sym), '\\s+'),
                            x -> x != '') AS l, cnt FROM s{r}),
p{r} AS (
  SELECT l[i] AS a, l[i + 1] AS b, sum(cnt) AS pc
  FROM l{r}, unnest(generate_series(1, len(l) - 1)) AS u{r}(i)
  GROUP BY 1, 2),
t{r} AS MATERIALIZED (SELECT a, b, pc FROM p{r} ORDER BY pc DESC, a, b LIMIT 1)"""
        )
        if r < n_merges - 1:
            parts.append(
                f"""s{r + 1} AS MATERIALIZED (
  SELECT replace(sym,
                 ' ' || (SELECT a FROM t{r}) || '  '
                     || (SELECT b FROM t{r}) || ' ',
                 ' ' || (SELECT a FROM t{r})
                     || (SELECT b FROM t{r}) || ' ') AS sym, cnt
  FROM s{r})"""
            )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({r + 1} AS BIGINT) AS rank, a, b, "
        f"CAST(pc AS BIGINT) AS pair_count FROM t{r}"
        for r in range(n_merges)
    )
    return ",\n".join(parts) + "\n" + union


ORACLE_BPE_MERGES = _bpe_oracle_sql(_BPE_N_MERGES)


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 5-gram spans (operators/text_analysis.py
    repeated_ngram_spans): Lee-et-al-style span-level dedup — locate
    every 5-token run shared by ≥2 docs and merge overlapping hits into
    maximal removal spans via gaps-and-islands."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        repeated_ngram_spans,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = repeated_ngram_spans(
        docs, id_col="doc_id", text_col="text", n=5, min_docs=2
    )
    return out.select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        F.col("span_tokens").cast("bigint").alias("span_tokens"),
        "n_grams",
    )


ORACLE_REPEATED_SPANS = rf"""
WITH toks AS ({_TOKS_SQL}),
g AS (
  SELECT doc_id, i - 1 AS pos,
         list_aggregate(t[i:i + 4], 'string_agg', ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
f AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
  WHERE nd >= 2),
h AS (SELECT doc_id, pos FROM g JOIN f USING (gram)),
i1 AS (
  SELECT doc_id, pos,
         max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pme
  FROM h),
i2 AS (
  SELECT doc_id, pos,
         CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS ns
  FROM i1),
i3 AS (
  SELECT doc_id, pos,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
  FROM i2)
SELECT doc_id, min(pos) AS span_start, max(pos) + 4 AS span_end,
       max(pos) + 4 - min(pos) + 1 AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_grams
FROM i3 GROUP BY doc_id, sid
"""


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact substring dedup with first-copy retention
    (operators/dedup.py substring_dedup): every 5-token gram keeps its
    first occurrence in global (doc, pos) order; later occurrences merge
    into maximal removal spans — cutting them leaves exactly one
    verbatim copy of every duplicated 5-gram (Lee et al. ExactSubstr
    shape, suffix-array-free)."""
    from knot_another_pipeline_spark.operators.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = substring_dedup(docs, id_col="doc_id", text_col="text", n=5)
    return out.select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        F.col("span_tokens").cast("bigint").alias("span_tokens"),
        "n_grams",
    )


ORACLE_SUBSTRING_DEDUP = rf"""
WITH toks AS ({_TOKS_SQL}),
g AS (
  SELECT doc_id, i - 1 AS pos,
         list_aggregate(t[i:i + 4], 'string_agg', ' ') AS gram
  FROM toks, unnest(generate_series(1, len(t) - 4)) AS u(i)),
r AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
  FROM g),
h AS (SELECT doc_id, pos FROM r WHERE rn >= 2),
i1 AS (
  SELECT doc_id, pos,
         max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS pme
  FROM h),
i2 AS (
  SELECT doc_id, pos,
         CASE WHEN pme IS NULL OR pos > pme + 1 THEN 1 ELSE 0 END AS ns
  FROM i1),
i3 AS (
  SELECT doc_id, pos,
         sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
  FROM i2)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + 4 AS BIGINT) AS span_end,
       CAST(max(pos) + 4 - min(pos) + 1 AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_grams
FROM i3 GROUP BY doc_id, sid
"""


def q_duplication_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplication scorecard over the substring_dedup removal
    spans: fraction of each source's tokens sitting inside removable
    (non-first-copy) spans — the corpus-curation readout that decides
    which feeds are worth exact-substring cleaning."""
    from knot_another_pipeline_spark.operators.dedup import substring_dedup
    from knot_another_pipeline_spark.operators.text_analysis import (
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    removed = (
        substring_dedup(docs, id_col="doc_id", text_col="text", n=5)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("_rt"))
    )
    per_doc = docs.select(
        "doc_id", "source", token_count(F.col("text")).alias("_nt")
    )
    return (
        per_doc.join(removed, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("total_tokens"),
            F.sum(F.coalesce(F.col("_rt"), F.lit(0)))
            .cast("bigint")
            .alias("removed_tokens"),
        )
        .withColumn(
            "dup_rate",
            F.round(F.col("removed_tokens") / F.col("total_tokens"), 6),
        )
    )


ORACLE_DUPLICATION_RATE = rf"""
WITH spans AS ({ORACLE_SUBSTRING_DEDUP}),
rem AS (
  SELECT doc_id, sum(span_tokens) AS rt FROM spans GROUP BY doc_id),
per_doc AS (
  SELECT d.doc_id, d.source,
         len(list_filter(string_split_regex(trim(lower(d.text)), '\s+'),
                         x -> x != '')) AS nt
  FROM documents d)
SELECT p.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(p.nt) AS BIGINT) AS total_tokens,
       CAST(sum(coalesce(r.rt, 0)) AS BIGINT) AS removed_tokens,
       round(sum(coalesce(r.rt, 0)) / sum(p.nt), 6) AS dup_rate
FROM per_doc p LEFT JOIN rem r USING (doc_id)
GROUP BY p.source
"""


def q_dedup_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTE half of exact substring dedup (operators/dedup.py
    remove_spans over substring_dedup's spans): rebuild each document
    with the non-first-copy spans cut out — after this pass every
    duplicated 5-gram survives exactly once corpus-wide. Row-local HOF
    removal, one doc-key join, no token-stream explode."""
    from knot_another_pipeline_spark.operators.dedup import (
        remove_spans,
        substring_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    spans = substring_dedup(docs, id_col="doc_id", text_col="text", n=5)
    return remove_spans(docs, spans, id_col="doc_id", text_col="text")


ORACLE_DEDUP_CLEAN_TEXT = rf"""
WITH spans AS ({ORACLE_SUBSTRING_DEDUP}),
toks AS ({_TOKS_SQL}),
tok_pos AS (
  SELECT doc_id, t[i] AS tok, i - 1 AS pos
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)),
rem AS (
  SELECT doc_id, unnest(generate_series(span_start, span_end)) AS pos
  FROM spans),
kept AS (
  SELECT p.doc_id, p.tok, p.pos
  FROM tok_pos p LEFT JOIN rem r
    ON p.doc_id = r.doc_id AND p.pos = r.pos
  WHERE r.pos IS NULL),
agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id),
n_all AS (SELECT doc_id, len(t) AS n FROM toks)
SELECT d.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_tokens,
       CAST(n_all.n - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
FROM documents d
JOIN n_all USING (doc_id)
LEFT JOIN agg a USING (doc_id)
"""


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic recsys negative sampling (operators/sampling.py
    negative_samples): 3 non-purchased parts per customer, md5-derived
    draws over the dense part index, positives anti-joined out —
    reproducible on every rerun and replayed exactly by the oracle."""
    from knot_another_pipeline_spark.operators.sampling import (
        negative_samples,
    )

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    inter = orders.join(
        lineitem, orders["o_orderkey"] == lineitem["l_orderkey"]
    ).select("o_custkey", F.col("l_partkey").alias("p_partkey"))
    out = negative_samples(
        inter, part, user_col="o_custkey", item_col="p_partkey", k=3
    )
    return out.select(
        F.col("user").alias("user_id"), "item", "neg_rank"
    )


ORACLE_NEGATIVE_SAMPLES = """
WITH inter AS (
  SELECT DISTINCT o_custkey AS usr, l_partkey AS item
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
it AS (SELECT DISTINCT p_partkey AS item FROM part),
idx AS (SELECT item, row_number() OVER (ORDER BY item) - 1 AS _idx
        FROM it),
n AS (SELECT count(*) AS nn FROM idx),
att AS (
  SELECT usr, j,
         CAST(concat('0x', substr(md5('0:' || usr || ':' || j), 1, 15))
              AS BIGINT) % (SELECT nn FROM n) AS _idx
  FROM (SELECT DISTINCT usr FROM inter),
       unnest(generate_series(0, 5)) AS u(j)),
drawn AS (SELECT usr, item, j FROM att JOIN idx USING (_idx)),
neg AS (
  SELECT usr, item, min(j) AS j FROM drawn
  WHERE NOT EXISTS (SELECT 1 FROM inter i
                    WHERE i.usr = drawn.usr AND i.item = drawn.item)
  GROUP BY 1, 2),
r AS (SELECT usr, item,
             row_number() OVER (PARTITION BY usr ORDER BY j) AS neg_rank
      FROM neg)
SELECT usr AS user_id, item, CAST(neg_rank AS BIGINT) AS neg_rank
FROM r WHERE neg_rank <= 3
"""


def q_next_event_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-item training examples (operators/behavior.py
    next_event_examples): per user, the previous 5 event types predict
    the next one — deterministic (ts, event_id) ordering, contexts
    with ≥2 predecessors."""
    from knot_another_pipeline_spark.operators.behavior import (
        next_event_examples,
    )

    events = load_table(spark, sf_dir, "events")
    return next_event_examples(
        events,
        user_col="user_id",
        ts_col="ts",
        item_col="event_type",
        tiebreak_col="event_id",
        context_len=5,
        min_context=2,
    ).select(
        F.col("user").alias("user_id"), "anchor", "label", "context",
        "ctx_len",
    )


ORACLE_NEXT_EVENT_EXAMPLES = """
WITH w AS (
  SELECT user_id, event_id AS anchor, event_type AS label,
         coalesce(string_agg(event_type, '|')
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), '') AS context,
         CAST(coalesce(count(*)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS ctx_len
  FROM events)
SELECT user_id, anchor, label, context, ctx_len
FROM w WHERE ctx_len >= 2
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE segmentation with the corpus-learned merges
    (operators/text_analysis.py bpe_encode): the inference half of the
    tokenizer — the same 6 rules q_bpe_merges learns, replayed in
    order as row-local replaces; train/encode agree by construction."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        _tokens,
        bpe_encode,
        bpe_learn,
    )

    docs = load_table(spark, sf_dir, "documents")
    words = (
        fan_out_small_scan(docs)
        .select(F.explode(_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merges = [
        (a, b) for _, a, b, _ in bpe_learn(words, n_merges=_BPE_N_MERGES)
    ]
    return bpe_encode(
        docs, id_col="doc_id", text_col="text", merges=merges
    ).withColumnRenamed("id", "doc_id")


def _bpe_encode_oracle_sql(n_merges: int) -> str:
    # Reuse the learning chain (s0..t{n-1}), then replay every learned
    # merge over each document's word symbol strings in rank order.
    learn = _bpe_oracle_sql(n_merges)
    learn_ctes = learn[: learn.rindex("SELECT CAST(1 ")].rstrip().rstrip(",")
    sym = (
        "'  ' || regexp_replace(word, '(.)', '\\1  ', 'g') || '</w>  '"
    )
    for r in range(n_merges):
        sym = (
            f"replace({sym}, ' ' || (SELECT a FROM t{r}) || '  ' || "
            f"(SELECT b FROM t{r}) || ' ', ' ' || (SELECT a FROM t{r}) "
            f"|| (SELECT b FROM t{r}) || ' ')"
        )
    return f"""{learn_ctes},
doc_words AS (
  SELECT doc_id, i, t[i] AS word
  FROM ({_TOKS_SQL.replace("SELECT doc_id, text,", "SELECT doc_id,")}) toks2,
       unnest(generate_series(1, len(t))) AS u(i)),
enc AS (
  SELECT doc_id, i, trim({sym}) AS wsym FROM doc_words),
joined AS (
  SELECT doc_id,
         string_agg(wsym, ' ' ORDER BY i) AS all_syms
  FROM enc GROUP BY 1)
-- LEFT JOIN from documents: a zero-token doc has no doc_words rows but
-- bpe_encode still emits (0, '') for it
SELECT d.doc_id,
       CAST(len(list_filter(
              string_split_regex(coalesce(all_syms, ''), '\\s+'),
              x -> x != ''))
            AS BIGINT) AS n_symbols,
       coalesce(list_aggregate(
                  list_filter(
                    string_split_regex(coalesce(all_syms, ''), '\\s+'),
                    x -> x != ''),
                  'string_agg', '|'), '') AS symbols
FROM documents d LEFT JOIN joined ON d.doc_id = joined.doc_id
"""


ORACLE_BPE_ENCODE = _bpe_encode_oracle_sql(_BPE_N_MERGES)


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch two-sample experiment readout per event type
    (operators/quality.py ab_test): synthetic arm assignment
    (user_id parity), one conditional aggregate per segment, verdict
    from rounded moments so it reproduces cross-engine."""
    from knot_another_pipeline_spark.operators.quality import ab_test

    events = load_table(spark, sf_dir, "events").withColumn(
        "arm",
        F.when(F.col("user_id") % 2 == 0, "control").otherwise("treatment"),
    )
    return ab_test(
        events,
        arm_col="arm",
        metric_col="value",
        control="control",
        treatment="treatment",
        by="event_type",
    )


ORACLE_AB_TEST = """
WITH s AS (
  SELECT event_type AS grp,
         CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END
           AS arm,
         CAST(value AS DOUBLE) AS m
  FROM events WHERE value IS NOT NULL),
agg AS (
  SELECT grp,
         count(*) FILTER (arm = 'control') AS n_ctl,
         count(*) FILTER (arm = 'treatment') AS n_trt,
         round(avg(m) FILTER (arm = 'control'), 6) AS mean_ctl,
         round(avg(m) FILTER (arm = 'treatment'), 6) AS mean_trt,
         round(var_samp(m) FILTER (arm = 'control'), 6) AS var_ctl,
         round(var_samp(m) FILTER (arm = 'treatment'), 6) AS var_trt
  FROM s GROUP BY 1),
z AS (
  SELECT *,
         round((mean_trt - mean_ctl)
               / nullif(sqrt(var_ctl / n_ctl + var_trt / n_trt), 0),
               4) AS z,
         round(mean_trt / nullif(mean_ctl, 0) - 1.0, 6) AS lift
  FROM agg)
SELECT grp, n_ctl, n_trt, mean_ctl, mean_trt, var_ctl, var_trt, lift, z,
       coalesce(abs(z) > 1.96, FALSE) AS significant
FROM z
"""


def q_ewma_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart on daily event volumes per type
    (operators/temporal.py ewma_smooth): closed-form cumsum, residual
    vs the prior smoothed level, 3σ alarm — the drift monitor a DQ
    pipeline runs on its own row counts."""
    from knot_another_pipeline_spark.operators.temporal import ewma_smooth

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("series"),
        F.to_date("ts").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return ewma_smooth(
        daily, series_col="series", order_col="day", value_col="n",
        alpha=0.3, k=3.0,
    )


ORACLE_EWMA_ALARM = """
WITH d AS (
  SELECT event_type AS series, CAST(ts AS DATE) AS ord,
         CAST(count(*) AS DOUBLE) AS value
  FROM events GROUP BY 1, 2),
w AS (
  SELECT series, ord, value,
         row_number() OVER (PARTITION BY series ORDER BY ord) - 1 AS t
  FROM d),
c AS (
  SELECT *,
         power(0.7, t) * sum(CASE WHEN t = 0 THEN value
                                  ELSE 0.3 * value * power(0.7, -t) END)
           OVER (PARTITION BY series ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ewma_raw
  FROM w),
r AS (
  SELECT series, t, value, round(ewma_raw, 6) AS ewma,
         round(value - lag(round(ewma_raw, 6))
                 OVER (PARTITION BY series ORDER BY t), 6) AS resid
  FROM c),
sg AS (SELECT series, round(stddev_samp(resid), 6) AS s
       FROM r GROUP BY 1)
SELECT r.series, CAST(t AS BIGINT) AS t, value, ewma, resid,
       coalesce(abs(resid) > 3.0 * s, FALSE) AS alarm
FROM r JOIN sg ON r.series = sg.series
"""


def q_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the SCD2 dimension (operators/temporal.py
    scd2_as_of): every user's tracked state as of 2024-01-15 — one
    half-open range predicate on the history q_scd2_history builds,
    zero shuffles beyond the history itself."""
    from knot_another_pipeline_spark.operators.temporal import (
        scd2_as_of,
        scd2_history,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    hist = scd2_history(ev, "user_id", ts_col="ts", attr_cols=["event_type"])
    return scd2_as_of(hist, as_of="2024-01-15 00:00:00").select(
        "user_id", "valid_from", "event_type"
    )


ORACLE_SCD2_AS_OF = f"""
WITH hist AS ({ORACLE_SCD2_HISTORY})
SELECT user_id, valid_from, event_type
FROM hist
WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
"""


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus datasheet — the one-page summary a dataset
    release ships: document counts, token volume, exact-duplicate rate
    (md5 fingerprints) and quality keep rate (C4/Gopher verdicts), one
    row per source. Composes fingerprint_documents + quality_filter
    into a single grouped aggregate; the corpus is scanned once per
    composed operator and the card itself is one source-keyed shuffle."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        fingerprint_documents,
        quality_filter,
    )

    docs = load_table(spark, sf_dir, "documents")
    fp = fingerprint_documents(docs, id_col="doc_id", text_col="text")
    qf = quality_filter(
        docs, id_col="doc_id", text_col="text", lang="en", min_tokens=20
    )
    per_doc = (
        docs.select("doc_id", "source")
        .join(fp.withColumnRenamed("id", "doc_id"), "doc_id")
        .join(
            qf.withColumnRenamed("id", "doc_id").select(
                "doc_id", "n_tokens", "keep"
            ),
            "doc_id",
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
        )
        .select(
            "source",
            "n_docs",
            "total_tokens",
            F.round(
                1.0 - F.col("n_unique") / F.col("n_docs"), 6
            ).alias("dup_frac"),
            F.round(F.col("n_keep") / F.col("n_docs"), 6).alias(
                "keep_frac"
            ),
        )
    )


ORACLE_DATASET_CARD = f"""
WITH fp AS ({ORACLE_DOC_FINGERPRINT}),
qf AS ({ORACLE_QUALITY_FILTER}),
per_doc AS (
  SELECT d.source, fp.fingerprint, qf.n_tokens, qf.keep
  FROM documents d
  JOIN fp ON d.doc_id = fp.id
  JOIN qf ON d.doc_id = qf.id)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(1.0 - CAST(count(DISTINCT fingerprint) AS DOUBLE)
                   / count(*), 6) AS dup_frac,
       round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS keep_frac
FROM per_doc GROUP BY 1
"""


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension enrichment (operators/temporal.py
    scd2_lookup): every event picks up the profile state from a sparse
    change log (every 7th event) valid AT ITS OWN TIMESTAMP. Spark
    runs the one-shuffle as-of rewrite; the oracle runs the
    definitional interval join — the hash match proves them
    equivalent."""
    from knot_another_pipeline_spark.operators.temporal import (
        scd2_history,
        scd2_lookup,
    )

    events = load_table(spark, sf_dir, "events")
    changes = events.filter(F.col("event_id") % 7 == 0).select(
        "user_id", "ts", F.col("event_type").alias("profile_state")
    )
    hist = scd2_history(
        changes, "user_id", ts_col="ts", attr_cols=["profile_state"]
    )
    facts = events.select("event_id", "user_id", "ts")
    return scd2_lookup(
        facts, hist, "user_id", fact_ts="ts",
        attr_cols=["profile_state"],
    ).select("event_id", "user_id", "ts", "profile_state", "dim_valid_from")


ORACLE_SCD2_LOOKUP = """
WITH flagged AS (
  SELECT user_id, ts, event_type AS profile_state,
         CASE WHEN lag(ts) OVER w IS NULL
                OR event_type IS DISTINCT FROM lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events WHERE event_id % 7 = 0
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_type)),
vers AS (
  SELECT user_id, ts, profile_state,
         sum(chg) OVER (PARTITION BY user_id ORDER BY ts, profile_state
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ver
  FROM flagged),
hist AS (
  SELECT user_id, ver, min(ts) AS valid_from,
         any_value(profile_state) AS profile_state
  FROM vers GROUP BY 1, 2),
bounded AS (
  SELECT user_id, valid_from, profile_state,
         lead(valid_from) OVER (PARTITION BY user_id ORDER BY ver)
           AS valid_to
  FROM hist)
SELECT e.event_id, e.user_id, e.ts, b.profile_state,
       b.valid_from AS dim_valid_from
FROM events e
LEFT JOIN bounded b
  ON e.user_id = b.user_id
 AND e.ts >= b.valid_from
 AND (b.valid_to IS NULL OR e.ts < b.valid_to)
"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences (operators/behavior.py markov_transitions): lead() per
    user ordered by (ts, event_id), then one (src,dst) count aggregate
    row-normalized into P(dst|src)."""
    from knot_another_pipeline_spark.operators.behavior import markov_transitions

    events = load_table(spark, sf_dir, "events")
    return markov_transitions(
        events,
        entity_col="user_id",
        order_col="ts",
        state_col="event_type",
        tiebreak_col="event_id",
    )


ORACLE_MARKOV_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type AS src,
         lead(event_type)
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events WHERE event_type IS NOT NULL),
t AS (
  SELECT src, dst, count(*) AS n
  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2)
SELECT src, dst, CAST(n AS BIGINT) AS n,
       round(n / CAST(sum(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS prob
FROM t
"""


def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival per event type (operators/behavior.py
    survival_curve): each (user, event_type) pair is a subject whose
    duration is the day span between its first and last occurrence;
    subjects still active in the final 7 days of the corpus are
    right-censored. Product-limit curve via the closed-form
    exp(cumsum(ln)) window."""
    from knot_another_pipeline_spark.operators.behavior import survival_curve

    events = load_table(spark, sf_dir, "events")
    horizon = events.agg(F.max("ts").alias("_hmax"))
    subjects = (
        events.groupBy("user_id", F.col("event_type").alias("grp"))
        .agg(F.min("ts").alias("_first"), F.max("ts").alias("_last"))
        .crossJoin(F.broadcast(horizon))
        .select(
            "grp",
            F.datediff(
                F.col("_last").cast("date"), F.col("_first").cast("date")
            ).cast("double").alias("dur"),
            F.when(
                F.col("_last") < F.col("_hmax") - F.expr("INTERVAL 7 DAYS"),
                F.lit(1),
            ).otherwise(F.lit(0)).alias("ev"),
        )
    )
    return survival_curve(
        subjects, group_col="grp", duration_col="dur", event_col="ev"
    )


ORACLE_SURVIVAL_CURVE = """
WITH h AS (SELECT max(ts) AS hmax FROM events),
subj AS (
  SELECT event_type AS grp,
         CAST(date_diff('day', CAST(min(ts) AS DATE),
                        CAST(max(ts) AS DATE)) AS DOUBLE) AS t,
         CASE WHEN max(ts) < (SELECT hmax FROM h) - INTERVAL 7 DAY
              THEN 1 ELSE 0 END AS ev
  FROM events GROUP BY user_id, event_type),
agg AS (
  SELECT grp, t, sum(ev) AS d, sum(1 - ev) AS c
  FROM subj GROUP BY 1, 2),
w AS (
  SELECT grp, t, d, c,
         sum(d + c) OVER (PARTITION BY grp)
           - coalesce(sum(d + c) OVER
               (PARTITION BY grp ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM agg),
f AS (SELECT *, 1.0 - d / CAST(n_risk AS DOUBLE) AS factor FROM w),
s AS (
  SELECT *,
         CASE WHEN min(factor) OVER cum <= 0 THEN 0.0
              ELSE exp(sum(CASE WHEN factor > 0 THEN ln(factor)
                                ELSE 0 END) OVER cum) END AS surv
  FROM f
  WINDOW cum AS (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT grp AS "group", t AS duration, CAST(n_risk AS BIGINT) AS at_risk,
       CAST(d AS BIGINT) AS events, CAST(c AS BIGINT) AS censored,
       round(surv, 6) AS survival
FROM s WHERE d > 0
"""


def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series OLS trend over daily event volumes
    (operators/temporal.py trend_fit): slope/intercept/R^2 from the
    five sufficient statistics in ONE hash aggregate — x is the day
    index from 2024-01-01, y the daily count."""
    from knot_another_pipeline_spark.operators.temporal import trend_fit

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    xy = daily.select(
        "series",
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        "y",
    )
    return trend_fit(xy, group_cols=["series"], x_col="x", y_col="y")


ORACLE_TREND_FIT = """
WITH d AS (
  SELECT event_type AS series, CAST(ts AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS y
  FROM events GROUP BY 1, 2),
p AS (
  SELECT series,
         CAST(date_diff('day', DATE '2024-01-01', day) AS DOUBLE) AS x, y
  FROM d),
a AS (
  SELECT series, CAST(count(*) AS BIGINT) AS n, avg(x) AS mx, avg(y) AS my,
         covar_pop(x, y) AS cov, var_pop(x) AS vx, var_pop(y) AS vy
  FROM p GROUP BY 1)
SELECT series, n,
       round(CASE WHEN vx > 0 THEN cov / vx END, 6) AS slope,
       round(my - (CASE WHEN vx > 0 THEN cov / vx END) * mx, 6) AS intercept,
       round(CASE WHEN vx > 0 AND vy > 0
                  THEN cov * cov / (vx * vy) END, 6) AS r2
FROM a
"""


def q_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM level-shift detector on daily event volumes per
    type (operators/temporal.py cusum_alarm): standardized cumulative
    sums via the closed-form cumsum-minus-running-min identity, alarm
    at h=3 with slack k=0.25."""
    from knot_another_pipeline_spark.operators.temporal import cusum_alarm

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return cusum_alarm(
        daily, series_col="series", order_col="day", value_col="n",
        k=0.25, h=3.0,
    )


ORACLE_CUSUM_ALARM = """
WITH d AS (
  SELECT event_type AS series, CAST(ts AS DATE) AS ord,
         CAST(count(*) AS DOUBLE) AS value
  FROM events GROUP BY 1, 2),
z AS (
  SELECT series, ord, value,
         round(CASE WHEN stddev_samp(value) OVER f IS NULL
                      OR stddev_samp(value) OVER f = 0 THEN 0.0
                    ELSE (value - avg(value) OVER f)
                         / stddev_samp(value) OVER f END, 6) AS z
  FROM d WINDOW f AS (PARTITION BY series)),
c AS (
  SELECT series, ord, value,
         round(sum(z - 0.25) OVER cum, 6) AS c_hi,
         round(sum(-z - 0.25) OVER cum, 6) AS c_lo,
         row_number() OVER (PARTITION BY series ORDER BY ord) - 1 AS t
  FROM z
  WINDOW cum AS (PARTITION BY series ORDER BY ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
s AS (
  SELECT series, t, value,
         round(c_hi - least(0.0, min(c_hi) OVER cum), 6) AS s_hi,
         round(c_lo - least(0.0, min(c_lo) OVER cum), 6) AS s_lo
  FROM c
  WINDOW cum AS (PARTITION BY series ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT series, CAST(t AS BIGINT) AS t, value, s_hi, s_lo,
       (s_hi > 3.0 OR s_lo > 3.0) AS alarm
FROM s
"""


def q_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over customer purchase baskets
    (operators/relational.py basket_rules): basket = customer, item =
    part group (l_partkey % 50); support / confidence / lift per
    directed pair with co-occurrence >= 5."""
    from knot_another_pipeline_spark.operators.relational import basket_rules

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    baskets = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.col("o_custkey").alias("basket"),
        (F.col("l_partkey") % 50).alias("item"),
    )
    return basket_rules(
        baskets,
        basket_col="basket",
        item_col="item",
        min_pair_count=5,
        max_basket_size=200,
    )


ORACLE_BASKET_RULES = """
WITH items AS (
  SELECT DISTINCT o.o_custkey AS basket, l.l_partkey % 50 AS item
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
sized AS (
  SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bs
  FROM items),
kept AS (SELECT basket, item FROM sized WHERE bs <= 200),
nb AS (SELECT count(DISTINCT basket) AS n_baskets FROM kept),
freq AS (SELECT item, count(*) AS item_n FROM kept GROUP BY 1),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_n
  FROM kept a JOIN kept b ON a.basket = b.basket AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= 5),
directed AS (
  SELECT item_a AS antecedent, item_b AS consequent, pair_n FROM pairs
  UNION ALL
  SELECT item_b AS antecedent, item_a AS consequent, pair_n FROM pairs)
SELECT d.antecedent, d.consequent, CAST(d.pair_n AS BIGINT) AS pair_n,
       round(d.pair_n / CAST(nb.n_baskets AS DOUBLE), 6) AS support,
       round(d.pair_n / CAST(fa.item_n AS DOUBLE), 6) AS confidence,
       round(d.pair_n * nb.n_baskets
             / CAST(fa.item_n * fc.item_n AS DOUBLE), 6) AS lift
FROM directed d
JOIN freq fa ON d.antecedent = fa.item
JOIN freq fc ON d.consequent = fc.item
CROSS JOIN nb
"""


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/quality.py
    cms_sketch/cms_estimate): a 4x64 md5-hashed sketch of per-user
    event counts, point-queried for every user and joined to the exact
    counts — overcount is the visible collision mass, undercount is
    structurally impossible. The oracle replays the sketch bit-for-bit."""
    from knot_another_pipeline_spark.operators.quality import (
        cms_estimate,
        cms_sketch,
    )

    events = load_table(spark, sf_dir, "events")
    sketch = cms_sketch(events, item_col="user_id", depth=4, width=64)
    est = cms_estimate(
        sketch, events, item_col="user_id", depth=4, width=64
    )
    exact = events.filter(F.col("user_id").isNotNull()).groupBy(
        F.col("user_id").alias("item")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    return est.join(exact, "item").select(
        "item",
        "est_n",
        "true_n",
        (F.col("est_n") - F.col("true_n")).cast("bigint").alias("overcount"),
    )


ORACLE_CMS_COUNTS = """
WITH items AS (
  SELECT user_id AS item FROM events WHERE user_id IS NOT NULL),
ds AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS t(d)),
sketch AS (
  SELECT d,
         CAST(concat('0x', substr(md5(concat(d, ':', item)), 1, 15))
              AS BIGINT) % 64 AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM items CROSS JOIN ds GROUP BY 1, 2),
probes AS (
  SELECT i.item, ds.d,
         CAST(concat('0x', substr(md5(concat(ds.d, ':', i.item)), 1, 15))
              AS BIGINT) % 64 AS bucket
  FROM (SELECT DISTINCT item FROM items) i CROSS JOIN ds),
est AS (
  SELECT p.item, CAST(min(coalesce(s.n, 0)) AS BIGINT) AS est_n
  FROM probes p LEFT JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
  GROUP BY 1),
exact AS (
  SELECT item, CAST(count(*) AS BIGINT) AS true_n FROM items GROUP BY 1)
SELECT e.item, e.est_n, x.true_n,
       CAST(e.est_n - x.true_n AS BIGINT) AS overcount
FROM est e JOIN exact x ON e.item = x.item
"""


def q_seasonal_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily event volumes
    per type (operators/temporal.py seasonal_decompose): centered 7-day
    moving-average trend, position-in-week seasonal indices centered to
    sum to zero, remainder."""
    from knot_another_pipeline_spark.operators.temporal import seasonal_decompose

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return seasonal_decompose(
        daily, series_col="series", order_col="day", value_col="n", period=7
    )


ORACLE_SEASONAL_DAILY = """
WITH d AS (
  SELECT event_type AS series, CAST(ts AS DATE) AS ord,
         CAST(count(*) AS DOUBLE) AS value
  FROM events GROUP BY 1, 2),
w AS (
  SELECT series, ord, value,
         row_number() OVER so - 1 AS t,
         CASE WHEN count(*) OVER ctr = 7
              THEN round(avg(value) OVER ctr, 6) END AS trend
  FROM d
  WINDOW so AS (PARTITION BY series ORDER BY ord),
         ctr AS (PARTITION BY series ORDER BY ord
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
p AS (SELECT *, value - trend AS detr, t % 7 AS pos FROM w),
idx AS (SELECT series, pos, avg(detr) AS raw FROM p GROUP BY 1, 2),
cen AS (
  SELECT series, pos,
         round(raw - avg(raw) OVER (PARTITION BY series), 6) AS seasonal
  FROM idx)
SELECT p.series, CAST(p.t AS BIGINT) AS t, p.value, p.trend, c.seasonal,
       round(p.value - p.trend - c.seasonal, 6) AS remainder
FROM p LEFT JOIN cen c ON p.series = c.series AND p.pos = c.pos
"""


def q_spearman_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Spearman rank correlation between event value and hour
    of day (operators/quality.py spearman_corr): midrank ties via two
    shared-shuffle windows, Pearson on the ranks."""
    from knot_another_pipeline_spark.operators.quality import spearman_corr

    events = load_table(spark, sf_dir, "events")
    s = events.select(
        "event_type",
        F.col("value").alias("x"),
        F.hour(F.col("ts").cast("timestamp")).cast("double").alias("y"),
    )
    return spearman_corr(
        s, group_cols=["event_type"], x_col="x", y_col="y"
    )


ORACLE_SPEARMAN_HOUR = """
WITH s AS (
  SELECT event_type, CAST(value AS DOUBLE) AS x,
         CAST(hour(ts) AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
r AS (
  SELECT event_type,
         rank() OVER (PARTITION BY event_type ORDER BY x)
           + (count(*) OVER (PARTITION BY event_type, x) - 1) / 2.0 AS rx,
         rank() OVER (PARTITION BY event_type ORDER BY y)
           + (count(*) OVER (PARTITION BY event_type, y) - 1) / 2.0 AS ry
  FROM s),
a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         covar_pop(rx, ry) AS cov,
         var_pop(rx) AS vx, var_pop(ry) AS vy
  FROM r GROUP BY 1)
SELECT event_type, n,
       round(CASE WHEN vx > 0 AND vy > 0
                  THEN cov / sqrt(vx * vy) END, 6) AS rho
FROM a
"""


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Gini coefficient of per-user event-value concentration
    (operators/quality.py gini_concentration): sorted-rank identity,
    one rank window + one aggregate, no pairwise self-join. Per-user
    totals are rounded before ranking so both engines rank identical
    doubles."""
    from knot_another_pipeline_spark.operators.quality import gini_concentration

    events = load_table(spark, sf_dir, "events")
    per_user = events.filter(F.col("value").isNotNull()).groupBy(
        "event_type", "user_id"
    ).agg(F.round(F.sum("value"), 6).alias("v"))
    return gini_concentration(
        per_user, group_cols=["event_type"], value_col="v"
    )


ORACLE_GINI_CONCENTRATION = """
WITH per_user AS (
  SELECT event_type, user_id, round(sum(value), 6) AS v
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
ranked AS (
  SELECT event_type, v,
         row_number() OVER (PARTITION BY event_type ORDER BY v) AS i
  FROM per_user WHERE v IS NOT NULL),
a AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(v) AS total,
         sum(i * v) AS iv
  FROM ranked GROUP BY 1)
SELECT event_type, n, round(total, 6) AS total,
       round(CASE WHEN total > 0
                  THEN 2.0 * iv / (n * total) - (n + 1.0) / n END,
             6) AS gini
FROM a
"""


def q_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type autocorrelation of daily event volumes for lags 1-7
    (operators/temporal.py acf): one shared lag window, row-local
    stack unpivot, pairwise-complete correlation per (series, lag)."""
    from knot_another_pipeline_spark.operators.temporal import acf

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return acf(
        daily, series_col="series", order_col="day", value_col="n", max_lag=7
    )


def _acf_oracle_sql(max_lag: int) -> str:
    lags = "\nUNION ALL\n".join(
        f"SELECT series, {k} AS lag, value,"
        f" lag(value, {k}) OVER (PARTITION BY series ORDER BY ord) AS lagged"
        " FROM d"
        for k in range(1, max_lag + 1)
    )
    return f"""
WITH d AS (
  SELECT event_type AS series, CAST(ts AS DATE) AS ord,
         CAST(count(*) AS DOUBLE) AS value
  FROM events GROUP BY 1, 2),
long AS ({lags}),
a AS (
  SELECT series, lag, CAST(count(*) AS BIGINT) AS n_pairs,
         covar_pop(value, lagged) AS cov,
         var_pop(value) AS vv, var_pop(lagged) AS vl
  FROM long WHERE lagged IS NOT NULL GROUP BY 1, 2)
SELECT series, CAST(lag AS INT) AS lag, n_pairs,
       round(CASE WHEN vv > 0 AND vl > 0
                  THEN cov / sqrt(vv * vl) END, 6) AS acf
FROM a
"""


ORACLE_ACF_DAILY = _acf_oracle_sql(7)


def q_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences readout per event type
    (operators/quality.py did_readout): synthetic arm (user parity) x
    period (mid-month cutoff) cells as conditional aggregates; the
    causal delta derived from rounded cell means."""
    from knot_another_pipeline_spark.operators.quality import did_readout

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    flagged = events.select(
        "event_type",
        (F.col("user_id") % 2 == 1).alias("treat"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp")).alias("post"),
        "value",
    )
    return did_readout(
        flagged,
        treat_col="treat",
        post_col="post",
        metric_col="value",
        by="event_type",
    )


ORACLE_DID_READOUT = """
WITH s AS (
  SELECT event_type AS grp, (user_id % 2 = 1) AS t,
         (ts >= TIMESTAMP '2024-01-16') AS p, CAST(value AS DOUBLE) AS m
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL),
a AS (
  SELECT grp,
         count(*) FILTER (NOT t AND NOT p) AS n_ctl_pre,
         round(avg(m) FILTER (NOT t AND NOT p), 6) AS mean_ctl_pre,
         count(*) FILTER (NOT t AND p) AS n_ctl_post,
         round(avg(m) FILTER (NOT t AND p), 6) AS mean_ctl_post,
         count(*) FILTER (t AND NOT p) AS n_trt_pre,
         round(avg(m) FILTER (t AND NOT p), 6) AS mean_trt_pre,
         count(*) FILTER (t AND p) AS n_trt_post,
         round(avg(m) FILTER (t AND p), 6) AS mean_trt_post
  FROM s GROUP BY 1),
d AS (
  SELECT *,
         round(mean_ctl_post - mean_ctl_pre, 6) AS delta_ctl,
         round(mean_trt_post - mean_trt_pre, 6) AS delta_trt
  FROM a)
SELECT grp, n_ctl_pre, mean_ctl_pre, n_ctl_post, mean_ctl_post,
       n_trt_pre, mean_trt_pre, n_trt_post, mean_trt_post,
       delta_ctl, delta_trt,
       round(delta_trt - delta_ctl, 6) AS did
FROM d
"""


def q_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence of event type vs quarter-of-day
    (operators/quality.py chi2_independence): contingency cells in one
    aggregate, expected counts from windows over the cell table,
    Cramer's V effect size."""
    from knot_another_pipeline_spark.operators.quality import chi2_independence

    events = load_table(spark, sf_dir, "events")
    s = events.select(
        "event_type",
        F.floor(F.hour(F.col("ts").cast("timestamp")) / 6)
        .cast("int")
        .alias("day_part"),
    )
    return chi2_independence(s, row_col="event_type", col_col="day_part")


ORACLE_CHI2_INDEPENDENCE = """
WITH cells AS (
  SELECT event_type AS r, CAST(floor(hour(ts) / 6.0) AS INT) AS c,
         CAST(count(*) AS DOUBLE) AS cnt
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
sc AS (
  SELECT r, c, cnt,
         sum(cnt) OVER (PARTITION BY r) AS rt,
         sum(cnt) OVER (PARTITION BY c) AS ct,
         sum(cnt) OVER () AS tot
  FROM cells),
a AS (
  -- sum (o-e)^2/e over ALL cells == sum o^2/e - N, which lets the
  -- structural-zero cells (absent from the GROUP BY) contribute their
  -- exact share (0) without being materialized
  SELECT CAST(max(tot) AS BIGINT) AS n,
         CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT c) AS BIGINT) AS n_cols,
         round(sum(cnt * cnt * tot / (rt * ct)) - max(tot), 6) AS chi2
  FROM sc)
SELECT n, n_rows, n_cols,
       CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof, chi2,
       round(CASE WHEN least(n_rows - 1, n_cols - 1) > 0
                  THEN sqrt(chi2 / (n * least(n_rows - 1, n_cols - 1)))
             END, 6) AS cramers_v
FROM a
"""


def q_feature_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information-gain ranking of order features against a big-ticket
    label (operators/features.py feature_gain): one stack unpivot, one
    cell aggregate, entropies from windows over the cell table."""
    from knot_another_pipeline_spark.operators.features import feature_gain

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    base = orders.select(
        (F.col("o_totalprice") > 250000).alias("big"),
        "o_orderpriority",
        "o_orderstatus",
        F.year(F.col("o_orderdate").cast("timestamp"))
        .cast("string")
        .alias("oyear"),
    )
    return feature_gain(
        base,
        label_col="big",
        feature_cols=["o_orderpriority", "o_orderstatus", "oyear"],
    )


ORACLE_FEATURE_GAIN = """
WITH base AS (
  SELECT CAST(o_totalprice > 250000 AS VARCHAR) AS l,
         o_orderpriority AS fp, o_orderstatus AS fs,
         CAST(year(o_orderdate) AS VARCHAR) AS fy
  FROM orders WHERE o_totalprice IS NOT NULL),
long AS (
  SELECT 'o_orderpriority' AS f, fp AS v, l FROM base WHERE fp IS NOT NULL
  UNION ALL
  SELECT 'o_orderstatus', fs, l FROM base WHERE fs IS NOT NULL
  UNION ALL
  SELECT 'oyear', fy, l FROM base WHERE fy IS NOT NULL),
cells AS (
  SELECT f, v, l, CAST(count(*) AS DOUBLE) AS n
  FROM long GROUP BY 1, 2, 3),
sc AS (
  SELECT f, n,
         sum(n) OVER (PARTITION BY f) AS nf,
         sum(n) OVER (PARTITION BY f, v) AS nv,
         sum(n) OVER (PARTITION BY f, l) AS nl,
         n / sum(n) OVER (PARTITION BY f, l) AS lshare
  FROM cells),
a AS (
  SELECT f, CAST(max(nf) AS BIGINT) AS n,
         sum(lshare * nl * (log2(nf) - log2(nl))) / max(nf) AS h,
         sum(n * (log2(nv) - log2(n))) / max(nf) AS hc
  FROM sc GROUP BY 1)
SELECT f AS feature, n, round(h, 6) AS parent_entropy,
       round(hc, 6) AS cond_entropy, round(h - hc, 6) AS gain
FROM a
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation over orders (operators/behavior.py
    rfm_segments): quantile-threshold scores — two aggregates and a
    1-row broadcast, never a global NTILE sort."""
    from knot_another_pipeline_spark.operators.behavior import rfm_segments

    orders = load_table(spark, sf_dir, "orders")
    return rfm_segments(
        orders,
        entity_col="o_custkey",
        ts_col="o_orderdate",
        value_col="o_totalprice",
        ref_date="2001-12-31",
        n_tiles=5,
    )


ORACLE_RFM_SEGMENTS = """
WITH base AS (
  SELECT o_custkey AS entity,
         CAST(date_diff('day', CAST(max(o_orderdate) AS DATE),
                        DATE '2001-12-31') AS DOUBLE) AS recency_days,
         CAST(count(*) AS DOUBLE) AS frequency,
         round(sum(o_totalprice), 6) AS monetary
  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
th AS (
  SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rq,
         quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fq,
         quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mq
  FROM base),
scored AS (
  SELECT entity, recency_days, frequency, monetary,
         CAST(1 + (CASE WHEN recency_days < rq[1] THEN 1 ELSE 0 END)
                + (CASE WHEN recency_days < rq[2] THEN 1 ELSE 0 END)
                + (CASE WHEN recency_days < rq[3] THEN 1 ELSE 0 END)
                + (CASE WHEN recency_days < rq[4] THEN 1 ELSE 0 END)
              AS INT) AS r_score,
         CAST(1 + (CASE WHEN frequency > fq[1] THEN 1 ELSE 0 END)
                + (CASE WHEN frequency > fq[2] THEN 1 ELSE 0 END)
                + (CASE WHEN frequency > fq[3] THEN 1 ELSE 0 END)
                + (CASE WHEN frequency > fq[4] THEN 1 ELSE 0 END)
              AS INT) AS f_score,
         CAST(1 + (CASE WHEN monetary > mq[1] THEN 1 ELSE 0 END)
                + (CASE WHEN monetary > mq[2] THEN 1 ELSE 0 END)
                + (CASE WHEN monetary > mq[3] THEN 1 ELSE 0 END)
                + (CASE WHEN monetary > mq[4] THEN 1 ELSE 0 END)
              AS INT) AS m_score
  FROM base CROSS JOIN th)
SELECT entity, recency_days, CAST(frequency AS BIGINT) AS frequency,
       monetary, r_score, f_score, m_score,
       concat(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
              CAST(m_score AS VARCHAR)) AS segment
FROM scored
"""


def q_funnel_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-delay profile for the signup->view->purchase funnel
    (operators/behavior.py funnel_timing): per-user first-occurrence
    mins, row-local delays, exact percentile summary per transition."""
    from knot_another_pipeline_spark.operators.behavior import funnel_timing

    events = load_table(spark, sf_dir, "events")
    return funnel_timing(events, ["signup", "view", "purchase"])


ORACLE_FUNNEL_TIMING = """
WITH firsts AS (
  SELECT user_id,
         min(ts) FILTER (event_type = 'signup') AS t0,
         min(ts) FILTER (event_type = 'view') AS t1,
         min(ts) FILTER (event_type = 'purchase') AS t2
  FROM events GROUP BY 1),
d AS (
  SELECT
    CASE WHEN t0 IS NOT NULL AND t1 > t0
         THEN (epoch_us(t1) - epoch_us(t0)) / 1000000.0 END AS d1,
    CASE WHEN t0 IS NOT NULL AND t1 > t0 AND t2 > t1
         THEN (epoch_us(t2) - epoch_us(t1)) / 1000000.0 END AS d2
  FROM firsts),
long AS (
  SELECT 1 AS idx, d1 AS delay FROM d WHERE d1 IS NOT NULL
  UNION ALL
  SELECT 2, d2 FROM d WHERE d2 IS NOT NULL),
a AS (
  SELECT idx, CAST(count(*) AS BIGINT) AS n_users,
         round(avg(delay), 4) AS avg_seconds,
         round(quantile_cont(delay, 0.5), 4) AS p50_seconds,
         round(quantile_cont(delay, 0.9), 4) AS p90_seconds
  FROM long GROUP BY 1)
SELECT CAST(idx AS INT) AS step_index,
       CASE idx WHEN 1 THEN 'signup' ELSE 'view' END AS step_from,
       CASE idx WHEN 1 THEN 'view' ELSE 'purchase' END AS step_to,
       n_users, avg_seconds, p50_seconds, p90_seconds
FROM a
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (operators/text_analysis.py
    readability): word / sentence-run / vowel-group counts as pure
    regexp codegen, zero shuffle."""
    from knot_another_pipeline_spark.operators.text_analysis import readability

    docs = load_table(spark, sf_dir, "documents")
    return readability(docs, id_col="doc_id", text_col="text")


ORACLE_READABILITY = """
WITH c AS (
  SELECT doc_id AS id,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
              AS BIGINT) AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS n_syllables
  FROM documents)
SELECT id, n_words, n_sentences, n_syllables,
       round(CASE WHEN n_words > 0
                  THEN 206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
             END, 4) AS flesch
FROM c
"""


def q_auc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney ROC AUC of a synthetic purchase scorer per
    weekday segment (operators/evaluation.py auc_scores): midrank ties,
    one Exchange shared by both windows, NULL for one-class groups."""
    from knot_another_pipeline_spark.operators.evaluation import auc_scores

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = events.select(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).cast("int").alias("wd"),
        (F.col("value") / 491.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return auc_scores(
        s, group_cols=["wd"], score_col="score", label_col="y"
    )


ORACLE_AUC_SCORES = """
WITH s AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS INT) AS wd,
         CAST(value AS DOUBLE) / 491.0 AS sc,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
r AS (
  SELECT wd, y,
         rank() OVER (PARTITION BY wd ORDER BY sc)
           + (count(*) OVER (PARTITION BY wd, sc) - 1) / 2.0 AS mr
  FROM s),
a AS (
  SELECT wd, CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(1 - y) AS BIGINT) AS n_neg,
         sum(CASE WHEN y = 1 THEN mr END) AS rsum
  FROM r GROUP BY 1)
SELECT wd, n_pos, n_neg,
       round(CASE WHEN n_pos > 0 AND n_neg > 0
                  THEN (rsum - n_pos * (n_pos + 1) / 2.0)
                       / (n_pos * n_neg) END, 6) AS auc
FROM a
"""


def q_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the synthetic purchase scorer
    (operators/evaluation.py calibration_curve): 10 equal-width score
    bins, mean predicted vs observed rate, one aggregate."""
    from knot_another_pipeline_spark.operators.evaluation import (
        calibration_curve,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = events.select(
        (F.col("value") / 491.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return calibration_curve(s, score_col="score", label_col="y", n_bins=10)


ORACLE_CALIBRATION_CURVE = """
WITH s AS (
  SELECT CAST(value AS DOUBLE) / 491.0 AS sc,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL),
b AS (
  SELECT least(9, CAST(floor(sc * 10) AS INT)) AS bin, sc, y FROM s)
SELECT bin, round(bin / 10.0, 6) AS lo, round((bin + 1) / 10.0, 6) AS hi,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(sc), 6) AS mean_score,
       round(avg(CAST(y AS DOUBLE)), 6) AS event_rate
FROM b GROUP BY 1
"""


def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains table for the synthetic purchase scorer
    (operators/evaluation.py lift_table): exact-percentile tile
    thresholds (no global NTILE sort), cumulative capture over the
    10-row tile table."""
    from knot_another_pipeline_spark.operators.evaluation import lift_table

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = events.select(
        (F.col("value") / 491.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return lift_table(s, score_col="score", label_col="y", n_tiles=10)


def _lift_oracle_sql(n_tiles: int) -> str:
    qs = ", ".join(str(i / n_tiles) for i in range(1, n_tiles))
    terms = "\n             + ".join(
        f"(CASE WHEN sc < q[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, n_tiles)
    )
    return f"""
WITH s AS (
  SELECT CAST(value AS DOUBLE) / 491.0 AS sc,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL),
th AS (SELECT quantile_cont(sc, [{qs}]) AS q FROM s),
tiled AS (
  SELECT CAST(1 + {terms} AS INT) AS tile, y
  FROM s CROSS JOIN th),
t AS (
  SELECT tile, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS n_events
  FROM tiled GROUP BY 1),
w AS (
  SELECT tile, n, n_events,
         sum(n) OVER () AS tot_n, sum(n_events) OVER () AS tot_e,
         sum(n_events) OVER (ORDER BY tile
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_e
  FROM t)
SELECT tile, n, n_events,
       round(CAST(n_events AS DOUBLE) / n, 6) AS event_rate,
       round(CASE WHEN tot_e > 0
                  THEN (CAST(n_events AS DOUBLE) / n)
                       / (CAST(tot_e AS DOUBLE) / tot_n) END, 6) AS lift,
       CAST(cum_e AS BIGINT) AS cum_events,
       round(CASE WHEN tot_e > 0
                  THEN CAST(cum_e AS DOUBLE) / tot_e END, 6) AS cum_capture
FROM w
"""


ORACLE_LIFT_TABLE = _lift_oracle_sql(10)


def q_psi_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    the event window (operators/evaluation.py psi_stability): shared
    32-bin grid, Laplace smoothing so empty bins price finitely."""
    from knot_another_pipeline_spark.operators.evaluation import psi_stability

    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    return psi_stability(
        events.filter(F.col("ts") < cut),
        events.filter(F.col("ts") >= cut),
        "value",
        bins=32,
        lo=0.0,
        hi=491.0,
    )


ORACLE_PSI_STABILITY = """
WITH e AS (
  SELECT least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0)
                                   / 15.34375) AS BIGINT), 0), 31) AS bin
  FROM events
  WHERE ts < TIMESTAMP '2024-01-16' AND value IS NOT NULL
    AND NOT isnan(CAST(value AS DOUBLE))),
a AS (
  SELECT least(greatest(CAST(floor((CAST(value AS DOUBLE) - 0.0)
                                   / 15.34375) AS BIGINT), 0), 31) AS bin
  FROM events
  WHERE ts >= TIMESTAMP '2024-01-16' AND value IS NOT NULL
    AND NOT isnan(CAST(value AS DOUBLE))),
he AS (SELECT bin, CAST(count(*) AS DOUBLE) AS n_e FROM e GROUP BY 1),
ha AS (SELECT bin, CAST(count(*) AS DOUBLE) AS n_a FROM a GROUP BY 1),
grid AS (SELECT unnest(generate_series(0, 31)) AS bin),
j AS (
  SELECT coalesce(he.n_e, 0) AS n_e, coalesce(ha.n_a, 0) AS n_a
  FROM grid LEFT JOIN he ON grid.bin = he.bin
            LEFT JOIN ha ON grid.bin = ha.bin),
tt AS (SELECT sum(n_e) AS te, sum(n_a) AS ta FROM j),
terms AS (
  SELECT te, ta,
         ((n_a + 0.5) / (ta + 16.0) - (n_e + 0.5) / (te + 16.0))
         * ln(((n_a + 0.5) / (ta + 16.0))
              / ((n_e + 0.5) / (te + 16.0))) AS term
  FROM j CROSS JOIN tt),
agg AS (SELECT te, ta, round(sum(term), 6) AS psi FROM terms GROUP BY 1, 2)
SELECT psi,
       CASE WHEN psi < 0.1 THEN 'stable'
            WHEN psi < 0.25 THEN 'moderate'
            ELSE 'shifted' END AS verdict,
       CAST(te AS BIGINT) AS n_expected,
       CAST(ta AS BIGINT) AS n_actual
FROM agg
"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per return flag
    (operators/quality.py weighted_median): cumulative-weight crossing
    in one ordered window; exact-integer weight sums keep the crossing
    comparison engine-stable."""
    from knot_another_pipeline_spark.operators.quality import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_median(
        li,
        group_cols=["l_returnflag"],
        value_col="l_extendedprice",
        weight_col="l_quantity",
    )


ORACLE_WEIGHTED_MEDIAN = """
WITH s AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(l_quantity AS DOUBLE) AS w
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
    AND l_quantity > 0),
c AS (
  SELECT l_returnflag, v,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM s)
SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
       round(max(tw), 6) AS total_weight,
       round(min(v), 6) AS weighted_median
FROM c WHERE cw >= tw / 2 GROUP BY 1
"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift per event type between the
    first and second half of the event window (operators/quality.py
    ks_test): exact sup-gap of the two ECDFs at the pooled jump
    points — the binning-free companion to psi_stability's fixed
    grid; windows keyed by event_type so per-task work is bounded by
    a group's distinct values."""
    from knot_another_pipeline_spark.operators.quality import ks_test

    events = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    return ks_test(
        events.filter(F.col("ts") < cut),
        events.filter(F.col("ts") >= cut),
        "value",
        by=["event_type"],
    )


ORACLE_KS_DRIFT = """
WITH s AS (
  SELECT event_type, CAST(value AS DOUBLE) AS v,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS ina,
         CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS inb
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
p AS (
  SELECT event_type, v,
         CAST(sum(ina) AS DOUBLE) AS na, CAST(sum(inb) AS DOUBLE) AS nb
  FROM s GROUP BY 1, 2),
g AS (
  SELECT event_type,
         sum(na) OVER (PARTITION BY event_type) AS ta,
         sum(nb) OVER (PARTITION BY event_type) AS tb,
         abs(sum(na) OVER (PARTITION BY event_type ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(na) OVER (PARTITION BY event_type)
             - sum(nb) OVER (PARTITION BY event_type ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               / sum(nb) OVER (PARTITION BY event_type)) AS gap
  FROM p)
SELECT event_type,
       CAST(max(ta) AS BIGINT) AS n_a,
       CAST(max(tb) AS BIGINT) AS n_b,
       round(max(gap), 6) AS ks_d,
       round(max(gap) * sqrt(max(ta) * max(tb) / (max(ta) + max(tb))), 6)
         AS ks_scaled
FROM g WHERE ta > 0 AND tb > 0 GROUP BY 1
"""


def q_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between each document's declared language and the
    stopword-heuristic detection (operators/quality.py cohens_kappa):
    chance-corrected agreement of two categorical labelings — the
    consensus-quality readout behind label_vote's majority picks."""
    from knot_another_pipeline_spark.operators.quality import cohens_kappa
    from knot_another_pipeline_spark.operators.text_analysis import (
        detect_language,
    )

    docs = load_table(spark, sf_dir, "documents")
    detected = detect_language(docs, id_col="doc_id", text_col="text")
    joined = docs.select(F.col("doc_id").alias("id"), "lang").join(
        detected.select("id", "detected_lang"), "id"
    )
    return cohens_kappa(joined, rater_a="lang", rater_b="detected_lang")


ORACLE_LABEL_AGREEMENT = (
    f"WITH toks AS ({_TOKS_SQL}),\nscores AS (\n  "
    + "\n  UNION ALL\n  ".join(
        _lang_score_sql(lang) for lang in sorted(STOPWORDS)
    )
    + """
),
ranked AS (
  SELECT doc_id, lang AS dl,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(score, 6) DESC, lang DESC) AS rn
  FROM scores),
j AS (
  SELECT d.lang AS a, r.dl AS b
  FROM documents d JOIN ranked r ON r.doc_id = d.doc_id AND r.rn = 1
  WHERE d.lang IS NOT NULL),
obs AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS DOUBLE) AS ag
  FROM j),
ma AS (SELECT a AS cat, CAST(count(*) AS DOUBLE) AS ca FROM j GROUP BY 1),
mb AS (SELECT b AS cat, CAST(count(*) AS DOUBLE) AS cb FROM j GROUP BY 1),
pe AS (
  SELECT sum(coalesce(ca, 0) * coalesce(cb, 0)) AS pen
  FROM ma FULL OUTER JOIN mb USING (cat))
SELECT CAST(n AS BIGINT) AS n,
       round(ag / n, 6) AS p_observed,
       round(pen / (n * n), 6) AS p_expected,
       round(CASE WHEN pen / (n * n) < 1.0
                  THEN (ag / n - pen / (n * n)) / (1 - pen / (n * n)) END,
             6) AS kappa
FROM obs CROSS JOIN pe
"""
)


def q_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift decile table with cumulative Qini over a synthetic
    experiment (operators/evaluation.py uplift_table): user-parity arm
    assignment (same convention as ab_test), pooled-percentile score
    tiles, per-tile treated-vs-control conversion gap."""
    from knot_another_pipeline_spark.operators.evaluation import uplift_table

    events = load_table(spark, sf_dir, "events").select(
        (F.col("value") / F.lit(491.0)).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("converted"),
        F.when(F.col("user_id") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("arm"),
    )
    return uplift_table(
        events,
        score_col="score",
        label_col="converted",
        arm_col="arm",
        control="control",
        treatment="treatment",
        n_tiles=10,
    )


def _uplift_oracle_sql(n_tiles: int) -> str:
    qs = ", ".join(str(i / n_tiles) for i in range(1, n_tiles))
    terms = "\n             + ".join(
        f"(CASE WHEN sc < q[{i}] THEN 1 ELSE 0 END)"
        for i in range(1, n_tiles)
    )
    return f"""
WITH s AS (
  SELECT CAST(value AS DOUBLE) / 491.0 AS sc,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END AS trt
  FROM events WHERE value IS NOT NULL),
th AS (SELECT quantile_cont(sc, [{qs}]) AS q FROM s),
tiled AS (
  SELECT CAST(1 + {terms} AS INT) AS tile, y, trt
  FROM s CROSS JOIN th),
t AS (
  SELECT tile,
         CAST(sum(trt) AS BIGINT) AS n_trt,
         CAST(sum(1 - trt) AS BIGINT) AS n_ctl,
         CAST(coalesce(sum(CASE WHEN trt = 1 THEN y END), 0) AS BIGINT)
           AS events_trt,
         CAST(coalesce(sum(CASE WHEN trt = 0 THEN y END), 0) AS BIGINT)
           AS events_ctl
  FROM tiled GROUP BY 1),
w AS (
  SELECT tile, n_trt, n_ctl, events_trt, events_ctl,
         sum(n_trt) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cnt,
         sum(n_ctl) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cnc,
         sum(events_trt) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cet,
         sum(events_ctl) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS cec
  FROM t)
SELECT tile, n_trt, n_ctl, events_trt, events_ctl,
       round(CASE WHEN n_trt > 0
                  THEN CAST(events_trt AS DOUBLE) / n_trt END, 6) AS rate_trt,
       round(CASE WHEN n_ctl > 0
                  THEN CAST(events_ctl AS DOUBLE) / n_ctl END, 6) AS rate_ctl,
       round(CASE WHEN n_trt > 0 AND n_ctl > 0
                  THEN CAST(events_trt AS DOUBLE) / n_trt
                       - CAST(events_ctl AS DOUBLE) / n_ctl END, 6) AS uplift,
       round(CASE WHEN cnc > 0
                  THEN cet - cec * (CAST(cnt AS DOUBLE) / cnc) END, 6)
         AS cum_qini
FROM w
"""


ORACLE_UPLIFT_DECILES = _uplift_oracle_sql(10)


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM fluency score per document
    (operators/text_analysis.py bigram_lm_score): Jelinek-Mercer
    λ·P(w|prev) + (1−λ)·P_uni(w), self-trained — row-local bigram
    build, V²-bounded model tables, one corpus-token join."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        bigram_lm_score,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_score(docs, id_col="doc_id", text_col="text")


ORACLE_BIGRAM_LM = rf"""
WITH toks AS ({_TOKS_SQL}),
flat AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w
  FROM toks),
big AS (
  SELECT a.doc_id, a.w AS w1, b.w AS w2
  FROM flat a JOIN flat b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
bic AS (
  SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c_bi FROM big GROUP BY 1, 2),
ctx AS (SELECT w1, sum(c_bi) AS c_ctx FROM bic GROUP BY 1),
uni AS (SELECT w2 AS w, sum(c_bi) AS c_uni FROM bic GROUP BY 1),
tot AS (
  SELECT sum(c_uni) AS n, CAST(count(*) AS DOUBLE) AS v FROM uni),
scored AS (
  SELECT g.doc_id,
         ln(0.75 * (CASE WHEN c.c_ctx IS NOT NULL AND c.c_ctx > 0
                         THEN coalesce(bc.c_bi, 0) / c.c_ctx
                         ELSE 0.0 END)
            + 0.25 * ((coalesce(u.c_uni, 0) + 0.5) / (t.n + 0.5 * t.v)))
           AS lp
  FROM big g
  LEFT JOIN bic bc ON bc.w1 = g.w1 AND bc.w2 = g.w2
  LEFT JOIN ctx c ON c.w1 = g.w1
  LEFT JOIN uni u ON u.w = g.w2
  CROSS JOIN tot t),
agg AS (
  SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_bigrams,
         round(avg(lp), 6) AS avg_logprob
  FROM scored GROUP BY 1),
singles AS (
  SELECT doc_id AS id, CAST(0 AS BIGINT) AS n_bigrams,
         CAST(NULL AS DOUBLE) AS avg_logprob
  FROM toks WHERE len(t) = 1)
SELECT id, n_bigrams, avg_logprob,
       round(exp(-avg_logprob), 4) AS perplexity
FROM (SELECT * FROM agg UNION ALL SELECT * FROM singles)
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-corpus 3-gram novelty per document
    (operators/text_analysis.py ngram_novelty): fraction of a doc's
    distinct gram hashes first introduced by that doc — gram→min-id
    aggregate + join back, two bounded shuffles."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        ngram_novelty,
    )

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, id_col="doc_id", text_col="text", n=3)


ORACLE_NGRAM_NOVELTY = rf"""
WITH toks AS ({_TOKS_SQL}),
g AS (
  SELECT DISTINCT doc_id,
         CAST(concat('0x', substr(md5(
           '0:' || list_aggregate(t[i:i + 2], 'string_agg', ' ')
         ), 1, 15)) AS BIGINT) AS gh
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS u(i)),
fs AS (SELECT gh, min(doc_id) AS first_id FROM g GROUP BY 1),
per AS (
  SELECT g.doc_id AS id, CAST(count(*) AS BIGINT) AS n_grams,
         CAST(sum(CASE WHEN fs.first_id = g.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS n_novel
  FROM g JOIN fs USING (gh) GROUP BY 1),
empties AS (
  SELECT doc_id AS id, CAST(0 AS BIGINT) AS n_grams,
         CAST(0 AS BIGINT) AS n_novel
  FROM toks WHERE len(t) < 3)
SELECT id, n_grams, n_novel,
       round(CASE WHEN n_grams > 0
                  THEN CAST(n_novel AS DOUBLE) / n_grams END, 6) AS novelty
FROM (SELECT * FROM per UNION ALL SELECT * FROM empties)
"""


def q_hits_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two HITS iterations over the order→part bipartite purchase graph
    (operators/graph.py hits_step): L2-normalized hub/authority power
    iteration — parts ranked by endorsement quality, not raw
    in-degree; 2 keyed shuffles per iteration, no adjacency matrix."""
    from knot_another_pipeline_spark.operators.graph import hits_step

    li = load_table(spark, sf_dir, "lineitem")
    # BIGINT node encoding through the 4 propagation shuffles; decode
    # to the same "o:"/"p:" strings only in the final projection
    # (see _bip_decode; −25% A/B, bit-identical output).
    edges = li.select(
        _bip_even(F.col("l_orderkey")).alias("src"),
        _bip_odd(F.col("l_partkey")).alias("dst"),
    )
    out = hits_step(edges, iterations=2)
    return out.select(
        _bip_decode(F.col("node"), "o:", "p:").alias("node"),
        "authority",
        "hub",
    )


ORACLE_HITS_AUTHORITY = """
WITH e AS (
  SELECT DISTINCT 'o:' || l_orderkey AS src, 'p:' || l_partkey AS dst
  FROM lineitem),
h0 AS (SELECT DISTINCT src AS node, 1.0 AS hub FROM e),
a1r AS (
  SELECT e.dst AS node, sum(h.hub) AS authority
  FROM e JOIN h0 h ON h.node = e.src GROUP BY 1),
a1 AS (
  SELECT node, authority / sqrt(sum(authority * authority) OVER ())
           AS authority
  FROM a1r),
h1r AS (
  SELECT e.src AS node, sum(a.authority) AS hub
  FROM e JOIN a1 a ON a.node = e.dst GROUP BY 1),
h1 AS (
  SELECT node, hub / sqrt(sum(hub * hub) OVER ()) AS hub FROM h1r),
a2r AS (
  SELECT e.dst AS node, sum(h.hub) AS authority
  FROM e JOIN h1 h ON h.node = e.src GROUP BY 1),
a2 AS (
  SELECT node, authority / sqrt(sum(authority * authority) OVER ())
           AS authority
  FROM a2r),
h2r AS (
  SELECT e.src AS node, sum(a.authority) AS hub
  FROM e JOIN a2 a ON a.node = e.dst GROUP BY 1),
h2 AS (
  SELECT node, hub / sqrt(sum(hub * hub) OVER ()) AS hub FROM h2r)
SELECT coalesce(a2.node, h2.node) AS node,
       round(coalesce(a2.authority, 0.0), 6) AS authority,
       round(coalesce(h2.hub, 0.0), 6) AS hub
FROM a2 FULL OUTER JOIN h2 ON a2.node = h2.node
"""


_K_CORE_K = 3
_K_CORE_ITERS = 8


def q_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the part↔part same-order co-occurrence graph
    (operators/graph.py k_core): synchronous degree-peel rounds, edge
    frame shrinking monotonically — the dense-community extractor
    degree thresholds can't replicate. The oracle unrolls the same
    bounded rounds (peeling a fixpoint is a no-op, so unconditional
    unrolling matches the early-exit loop exactly)."""
    from knot_another_pipeline_spark.operators.graph import k_core

    li = load_table(spark, sf_dir, "lineitem")
    return k_core(_coorder_part_edges(li), k=_K_CORE_K, max_iter=_K_CORE_ITERS)


def _k_core_oracle_sql(k: int, rounds: int) -> str:
    """Unroll ``rounds`` synchronous peel rounds as chained CTEs.

    Spark's loop exits early at a fixpoint, but peeling a fixpoint
    changes nothing, so running every round unconditionally yields the
    same final edge set; ``converged`` is round_{n-1} == round_n (the
    loop's own count check, valid whenever the fixpoint arrives within
    the budget — asserted by the differential itself, since an
    unconverged Spark run emits converged=false and mismatches)."""
    # every CTE is MATERIALIZED: each round references its predecessor
    # three times (two degree scans + the join), so DuckDB's default
    # inline expansion is 3^rounds scans of lineitem — materialization
    # makes it linear, exactly like the Spark loop's localCheckpoint
    parts = [
        """
WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS a,
         greatest(a.l_partkey, b.l_partkey) AS b
  FROM lp a JOIN lp b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""
    ]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f""",
d{r} AS MATERIALIZED (
  SELECT node, count(*) AS degree FROM (
    SELECT a AS node FROM {prev} UNION ALL SELECT b AS node FROM {prev})
  GROUP BY 1),
e{r} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN d{r} da ON da.node = e.a AND da.degree >= {k}
  JOIN d{r} db ON db.node = e.b AND db.degree >= {k})"""
        )
        prev = f"e{r}"
    parts.append(
        f""",
conv AS (
  SELECT (SELECT count(*) FROM e{rounds}) =
         (SELECT count(*) FROM e{rounds - 1}) AS converged)
SELECT node, CAST(count(*) AS BIGINT) AS degree,
       (SELECT converged FROM conv) AS converged
FROM (SELECT a AS node FROM e{rounds}
      UNION ALL SELECT b AS node FROM e{rounds})
GROUP BY 1 HAVING count(*) >= {k}"""
    )
    return "".join(parts)


ORACLE_K_CORE = _k_core_oracle_sql(_K_CORE_K, _K_CORE_ITERS)


def q_linkage_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter field weights from labeled candidate pairs
    (operators/dedup.py linkage_weights): nation-blocked customer
    pairs labeled by account-balance proximity, agreement flags on
    market segment and balance sign — m/u probabilities and log-odds
    weights from ONE conditional aggregate + row-local stack."""
    from knot_another_pipeline_spark.operators.dedup import linkage_weights

    cust = load_table(spark, sf_dir, "customer")
    pairs = (
        cust.alias("a")
        .join(
            cust.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            (
                F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")) < 500.0
            ).alias("is_match"),
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment")).alias(
                "segment_agree"
            ),
            (
                (F.col("a.c_acctbal") >= 0) == (F.col("b.c_acctbal") >= 0)
            ).alias("balance_sign_agree"),
        )
    )
    return linkage_weights(
        pairs,
        match_col="is_match",
        agreement_cols=["segment_agree", "balance_sign_agree"],
    )


ORACLE_LINKAGE_WEIGHTS = """
WITH p AS (
  SELECT abs(a.c_acctbal - b.c_acctbal) < 500.0 AS lab,
         a.c_mktsegment = b.c_mktsegment AS f1,
         (a.c_acctbal >= 0) = (b.c_acctbal >= 0) AS f2
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey),
c AS (
  SELECT
    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS DOUBLE) AS f1_nm,
    CAST(sum(CASE WHEN lab AND f1 THEN 1 ELSE 0 END) AS DOUBLE) AS f1_am,
    CAST(sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS DOUBLE) AS f1_nu,
    CAST(sum(CASE WHEN NOT lab AND f1 THEN 1 ELSE 0 END) AS DOUBLE)
      AS f1_au,
    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS DOUBLE) AS f2_nm,
    CAST(sum(CASE WHEN lab AND f2 THEN 1 ELSE 0 END) AS DOUBLE) AS f2_am,
    CAST(sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS DOUBLE) AS f2_nu,
    CAST(sum(CASE WHEN NOT lab AND f2 THEN 1 ELSE 0 END) AS DOUBLE)
      AS f2_au
  FROM p),
long AS (
  SELECT 'segment_agree' AS field, f1_nm AS nm, f1_am AS am,
         f1_nu AS nu, f1_au AS au FROM c
  UNION ALL
  SELECT 'balance_sign_agree', f2_nm, f2_am, f2_nu, f2_au FROM c),
w AS (
  SELECT field, nm, nu,
         (am + 0.5) / (nm + 1.0) AS m, (au + 0.5) / (nu + 1.0) AS u
  FROM long)
SELECT field,
       CAST(nm AS BIGINT) AS n_match,
       CAST(nu AS BIGINT) AS n_nonmatch,
       round(m, 6) AS m,
       round(u, 6) AS u,
       round(CASE WHEN u > 0 THEN log2(m / u) END, 6) AS w_agree,
       round(CASE WHEN u < 1 THEN log2((1 - m) / (1 - u)) END, 6)
         AS w_disagree
FROM w
"""


def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR top-5 diversification of the embedding corpus against query
    vector 0 (operators/similarity.py mmr_select): greedy
    λ·relevance − (1−λ)·max-sim selection, k driver rounds over a
    checkpointed candidate frame, rounded-score argmax with id
    tiebreak so the oracle replays the identical sequence."""
    from knot_another_pipeline_spark.operators.similarity import (
        dot,
        l2_norm,
        mmr_select,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # The per-row normalize + relevance dots are interpreted HOF folds;
    # parallelize the one-row-group scan before them (guide §2.5 —
    # r12 profile: the candidate pin was a 1.1 s single-task job).
    from knot_another_pipeline_spark.functions.partitioning import (
        fan_out_small_scan,
    )

    normed = fan_out_small_scan(emb).select(
        "vec_id",
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") / l2_norm(F.col("embedding")),
        ).alias("_v"),
    )
    q = normed.filter(F.col("vec_id") == 0).select(F.col("_v").alias("_qv"))
    cands = (
        normed.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            dot(F.col("_v"), F.col("_qv")).alias("rel"),
        )
    )
    return mmr_select(
        cands,
        id_col="vec_id",
        vec_col="embedding",
        rel_col="rel",
        k=5,
        lam=0.7,
    )


def _mmr_oracle_sql(k: int, lam: float) -> str:
    """Unroll the k greedy MMR rounds as MATERIALIZED CTEs; each round
    re-scores the not-yet-selected candidates against the selected set
    via a correlated max-dot subquery (≤ k−1 rows), rounds to 6, and
    takes the (score DESC, id ASC) argmax — the mmr_select loop
    verbatim."""
    parts = [
        """
WITH e AS MATERIALIZED (
  SELECT vec_id AS id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw
  FROM embeddings),
n AS MATERIALIZED (
  SELECT id,
         list_transform(raw, x -> x / sqrt(list_dot_product(raw, raw)))
           AS v
  FROM e WHERE sqrt(list_dot_product(raw, raw)) > 0),
q AS MATERIALIZED (SELECT v AS qv FROM n WHERE id = 0),
c AS MATERIALIZED (
  SELECT id, v, list_dot_product(v, qv) AS rel FROM n, q WHERE id != 0),
r1 AS MATERIALIZED (
  SELECT 1 AS rank, id, v, rel, round(rel, 6) AS mmr
  FROM c ORDER BY round(rel, 6) DESC, id ASC LIMIT 1),
sel1 AS MATERIALIZED (SELECT id, v FROM r1)"""
    ]
    for r in range(2, k + 1):
        parts.append(
            f""",
r{r} AS MATERIALIZED (
  SELECT {r} AS rank, c.id, c.v, c.rel,
         round({lam} * c.rel - {1.0 - lam} *
               (SELECT max(list_dot_product(c.v, s.v)) FROM sel{r - 1} s),
               6) AS mmr
  FROM c WHERE c.id NOT IN (SELECT id FROM sel{r - 1})
  ORDER BY mmr DESC, c.id ASC LIMIT 1),
sel{r} AS MATERIALIZED (
  SELECT id, v FROM sel{r - 1} UNION ALL SELECT id, v FROM r{r})"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT rank, id, round(rel, 6) AS relevance, mmr AS mmr_score"
        f" FROM r{r}"
        for r in range(1, k + 1)
    )
    parts.append("\n" + union)
    return "".join(parts)


ORACLE_MMR_DIVERSIFY = _mmr_oracle_sql(5, 0.7)


def q_dedup_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 of MinHash-LSH candidate pairs (est Jaccard
    ≥ 0.5) against the exact-duplicate truth set (normalized-content
    fingerprint pairs) — operators/evaluation.py pair_eval closing the
    dedup loop with a measured quality number."""
    from knot_another_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
        shingle_table,
    )
    from knot_another_pipeline_spark.operators.evaluation import pair_eval
    from knot_another_pipeline_spark.operators.text_analysis import (
        fingerprint_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(
        docs, id_col="doc_id", text_col="text", n=3, distinct=False
    )
    # lazy pin: sig feeds cands + both scoring-join sides (see
    # q_minhash_pairs; same -12% A/B rationale)
    sig = minhash_signatures(sh, num_hashes=16).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sig, bands=4, rows_per_band=4)
    predicted = minhash_similarity(sig, cands, num_hashes=16).filter(
        F.col("est_jaccard") >= 0.5
    )
    fp = fingerprint_documents(docs, id_col="doc_id", text_col="text")
    truth = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return pair_eval(predicted, truth)


def q_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter pair scoring (operators/dedup.py
    score_linkage_pairs): the weights learned by linkage_weights pivot
    to ONE broadcast row and score every nation-blocked customer pair
    row-locally — the apply half of probabilistic entity resolution."""
    from knot_another_pipeline_spark.operators.dedup import (
        linkage_weights,
        score_linkage_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    pairs = (
        cust.alias("a")
        .join(
            cust.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("id_a"),
            F.col("b.c_custkey").alias("id_b"),
            (
                F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")) < 500.0
            ).alias("is_match"),
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment")).alias(
                "segment_agree"
            ),
            (
                (F.col("a.c_acctbal") >= 0) == (F.col("b.c_acctbal") >= 0)
            ).alias("balance_sign_agree"),
        )
    )
    weights = linkage_weights(
        pairs,
        match_col="is_match",
        agreement_cols=["segment_agree", "balance_sign_agree"],
    )
    scored = score_linkage_pairs(
        pairs,
        weights,
        agreement_cols=["segment_agree", "balance_sign_agree"],
    )
    return scored.select("id_a", "id_b", "match_weight")


ORACLE_LINKAGE_SCORES = """
WITH p AS MATERIALIZED (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         abs(a.c_acctbal - b.c_acctbal) < 500.0 AS lab,
         a.c_mktsegment = b.c_mktsegment AS f1,
         (a.c_acctbal >= 0) = (b.c_acctbal >= 0) AS f2
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey),
c AS (
  SELECT
    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS DOUBLE) AS nm,
    CAST(sum(CASE WHEN lab AND f1 THEN 1 ELSE 0 END) AS DOUBLE) AS f1_am,
    CAST(sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS DOUBLE) AS nu,
    CAST(sum(CASE WHEN NOT lab AND f1 THEN 1 ELSE 0 END) AS DOUBLE)
      AS f1_au,
    CAST(sum(CASE WHEN lab AND f2 THEN 1 ELSE 0 END) AS DOUBLE) AS f2_am,
    CAST(sum(CASE WHEN NOT lab AND f2 THEN 1 ELSE 0 END) AS DOUBLE)
      AS f2_au
  FROM p),
w AS (
  SELECT
    round(CASE WHEN (f1_au + 0.5) / (nu + 1.0) > 0
               THEN log2(((f1_am + 0.5) / (nm + 1.0))
                         / ((f1_au + 0.5) / (nu + 1.0))) END, 6) AS f1_wa,
    round(CASE WHEN (f1_au + 0.5) / (nu + 1.0) < 1
               THEN log2((1 - (f1_am + 0.5) / (nm + 1.0))
                         / (1 - (f1_au + 0.5) / (nu + 1.0))) END, 6)
      AS f1_wd,
    round(CASE WHEN (f2_au + 0.5) / (nu + 1.0) > 0
               THEN log2(((f2_am + 0.5) / (nm + 1.0))
                         / ((f2_au + 0.5) / (nu + 1.0))) END, 6) AS f2_wa,
    round(CASE WHEN (f2_au + 0.5) / (nu + 1.0) < 1
               THEN log2((1 - (f2_am + 0.5) / (nm + 1.0))
                         / (1 - (f2_au + 0.5) / (nu + 1.0))) END, 6)
      AS f2_wd
  FROM c)
SELECT id_a, id_b,
       round(coalesce(CASE WHEN f1 THEN f1_wa ELSE f1_wd END, 0)
             + coalesce(CASE WHEN f2 THEN f2_wa ELSE f2_wd END, 0), 6)
         AS match_weight
FROM p CROSS JOIN w
"""


ORACLE_DEDUP_PRF = f"""
WITH pred AS MATERIALIZED (
  SELECT DISTINCT least(id_a, id_b) AS pa, greatest(id_a, id_b) AS pb
  FROM ({ORACLE_MINHASH_PAIRS}) mp
  WHERE est_jaccard >= 0.5 AND id_a != id_b),
fpx AS MATERIALIZED (
  SELECT doc_id AS id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^\\p{{L}}\\p{{N}}\\s]', ' ', 'g'), '\\s+', ' ', 'g')))
           AS fingerprint
  FROM documents),
tr AS MATERIALIZED (
  SELECT DISTINCT least(a.id, b.id) AS pa, greatest(a.id, b.id) AS pb
  FROM fpx a JOIN fpx b
    ON a.fingerprint = b.fingerprint AND a.id < b.id),
cnt AS (
  SELECT (SELECT count(*) FROM pred) AS n_pred,
         (SELECT count(*) FROM tr) AS n_true,
         (SELECT count(*) FROM pred JOIN tr USING (pa, pb)) AS tp),
m AS (
  SELECT n_pred, n_true, tp,
         CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / n_pred END AS p,
         CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / n_true END AS r
  FROM cnt)
SELECT CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_true AS BIGINT) AS n_true,
       CAST(tp AS BIGINT) AS tp,
       round(p, 6) AS precision,
       round(r, 6) AS recall,
       round(CASE WHEN p IS NOT NULL AND r IS NOT NULL AND p + r > 0
                  THEN 2 * p * r / (p + r) END, 6) AS f1
FROM m
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle containment C(a→b) = |A∩B|/|A| over the document
    corpus (operators/dedup.py containment_pairs): the asymmetric dedup
    signal that catches inclusion duplicates Jaccard misses. Stop-shingle
    cap df ≤ 50; pairs with containment ≥ 0.5."""
    from knot_another_pipeline_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3, distinct=True)
    out = containment_pairs(sh, min_containment=0.5, max_doc_freq=50)
    return out.select(
        "id_a",
        "id_b",
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("inter").cast("bigint").alias("inter"),
        "containment",
    )


ORACLE_CONTAINMENT_PAIRS = rf"""
WITH toks AS ({_TOKS_SQL}),
sh0 AS ({_SHINGLES_SQL}),
keep AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 50),
sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
inter AS MATERIALIZED (
  SELECT a.id AS u, b.id AS v, count(*) AS ix
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2),
pairsz AS (
  SELECT u, v, ix, su.sz AS sz_u, sv.sz AS sz_v
  FROM inter JOIN sizes su ON su.id = u JOIN sizes sv ON sv.id = v),
directed AS (
  SELECT u AS id_a, v AS id_b, sz_u AS size_a, ix FROM pairsz
  UNION ALL
  SELECT v AS id_a, u AS id_b, sz_v AS size_a, ix FROM pairsz)
SELECT id_a, id_b, CAST(size_a AS BIGINT) AS size_a,
       CAST(ix AS BIGINT) AS inter,
       round(CAST(ix AS DOUBLE) / size_a, 6) AS containment
FROM directed
WHERE round(CAST(ix AS DOUBLE) / size_a, 6) >= 0.5
"""


def q_linkage_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One unsupervised Fellegi–Sunter EM iteration (operators/dedup.py
    linkage_em_step) over UNLABELED nation-blocked customer pairs with
    segment/balance-sign agreement flags — the fit loop behind
    Splink-style entity resolution when no labeled pairs exist. The
    oracle replays the same E-step product and M-step aggregate."""
    from knot_another_pipeline_spark.operators.dedup import linkage_em_step

    cust = load_table(spark, sf_dir, "customer")
    pairs = (
        cust.alias("a")
        .join(
            cust.alias("b"),
            (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment")).alias(
                "segment_agree"
            ),
            (
                (F.col("a.c_acctbal") >= 0) == (F.col("b.c_acctbal") >= 0)
            ).alias("balance_sign_agree"),
        )
    )
    return linkage_em_step(
        pairs,
        agreement_cols=["segment_agree", "balance_sign_agree"],
        m={"segment_agree": 0.9, "balance_sign_agree": 0.8},
        u={"segment_agree": 0.2, "balance_sign_agree": 0.5},
        p=0.1,
    )


ORACLE_LINKAGE_EM = """
WITH p AS MATERIALIZED (
  SELECT a.c_mktsegment = b.c_mktsegment AS f1,
         (a.c_acctbal >= 0) = (b.c_acctbal >= 0) AS f2
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey),
s AS (
  SELECT f1, f2,
         0.1 * (CASE WHEN f1 THEN 0.9 WHEN NOT f1 THEN 0.1 ELSE 1.0 END)
             * (CASE WHEN f2 THEN 0.8 WHEN NOT f2 THEN 0.2 ELSE 1.0 END)
           AS lm,
         0.9 * (CASE WHEN f1 THEN 0.2 WHEN NOT f1 THEN 0.8 ELSE 1.0 END)
             * (CASE WHEN f2 THEN 0.5 WHEN NOT f2 THEN 0.5 ELSE 1.0 END)
           AS lu
  FROM p),
w AS (SELECT f1, f2, lm / (lm + lu) AS w FROM s),
agg AS (
  SELECT sum(w) AS sw, count(*) AS n,
         sum(CASE WHEN f1 IS NOT NULL THEN w END) AS f1_dw,
         sum(CASE WHEN f1 THEN w END) AS f1_nw,
         sum(CASE WHEN f1 IS NOT NULL THEN 1 - w END) AS f1_du,
         sum(CASE WHEN f1 THEN 1 - w END) AS f1_nu,
         sum(CASE WHEN f2 IS NOT NULL THEN w END) AS f2_dw,
         sum(CASE WHEN f2 THEN w END) AS f2_nw,
         sum(CASE WHEN f2 IS NOT NULL THEN 1 - w END) AS f2_du,
         sum(CASE WHEN f2 THEN 1 - w END) AS f2_nu
  FROM w)
SELECT 'segment_agree' AS field,
       round(CASE WHEN f1_dw > 0 THEN f1_nw / f1_dw END, 6) AS m_new,
       round(CASE WHEN f1_du > 0 THEN f1_nu / f1_du END, 6) AS u_new,
       round(CASE WHEN n > 0 THEN sw / n END, 6) AS p_new,
       CAST(n AS BIGINT) AS n_pairs
FROM agg
UNION ALL
SELECT 'balance_sign_agree',
       round(CASE WHEN f2_dw > 0 THEN f2_nw / f2_dw END, 6),
       round(CASE WHEN f2_du > 0 THEN f2_nu / f2_du END, 6),
       round(CASE WHEN n > 0 THEN sw / n END, 6),
       CAST(n AS BIGINT)
FROM agg
"""


def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-Evidence / Information-Value screen (operators/
    features.py woe_iv): label = non-negative account balance, features
    = market segment and nation — one stacked hash aggregate plus a
    same-key window, smoothed shares, per-feature IV total."""
    from knot_another_pipeline_spark.operators.features import woe_iv

    cust = load_table(spark, sf_dir, "customer").withColumn(
        "is_pos", F.col("c_acctbal") >= 0
    )
    return woe_iv(
        cust,
        feature_cols=["c_mktsegment", "c_nationkey"],
        label_col="is_pos",
    )


ORACLE_WOE_IV = """
WITH stacked AS (
  SELECT c_acctbal >= 0 AS y, 'c_mktsegment' AS feature,
         coalesce(CAST(c_mktsegment AS VARCHAR), '(null)') AS level
  FROM customer WHERE (c_acctbal >= 0) IS NOT NULL
  UNION ALL
  SELECT c_acctbal >= 0, 'c_nationkey',
         coalesce(CAST(c_nationkey AS VARCHAR), '(null)')
  FROM customer WHERE (c_acctbal >= 0) IS NOT NULL),
counts AS (
  SELECT feature, level,
         sum(CASE WHEN y THEN 1 ELSE 0 END) AS n_pos,
         sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS n_neg
  FROM stacked GROUP BY 1, 2),
sh AS (
  SELECT feature, level, n_pos, n_neg,
         (n_pos + 0.5) / (sum(n_pos) OVER (PARTITION BY feature)
                          + 0.5 * count(*) OVER (PARTITION BY feature))
           AS ps,
         (n_neg + 0.5) / (sum(n_neg) OVER (PARTITION BY feature)
                          + 0.5 * count(*) OVER (PARTITION BY feature))
           AS ns
  FROM counts)
SELECT feature, level,
       CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       round(ln(ps / ns), 6) AS woe,
       round((ps - ns) * ln(ps / ns), 6) AS iv_term,
       round(sum((ps - ns) * ln(ps / ns)) OVER (PARTITION BY feature), 6)
         AS iv
FROM sh
"""


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded label propagation (operators/graph.py label_propagation)
    over the part↔supplier bipartite graph from lineitem: every 10th
    supplier is seeded with its nation, labels spread 2 rounds (parts
    adopt in round 1, unseeded suppliers in round 2). The oracle
    unrolls the identical majority-vote rounds."""
    from knot_another_pipeline_spark.operators.graph import label_propagation

    li = load_table(spark, sf_dir, "lineitem")
    # BIGINT node encoding (even=part, odd=supplier) through the vote
    # rounds; decode in the final projection only (_bip_decode; −21%
    # A/B, bit-identical — the vote tie-break is on the LABEL, never
    # the node key, so relabeling cannot change any adoption).
    edges = li.select(
        _bip_even(F.col("l_partkey")).alias("src"),
        _bip_odd(F.col("l_suppkey")).alias("dst"),
    )
    supp = load_table(spark, sf_dir, "supplier")
    seeds = supp.filter(F.col("s_suppkey") % 10 == 0).select(
        _bip_odd(F.col("s_suppkey")).alias("node"),
        F.col("s_nationkey").alias("label"),
    )
    out = label_propagation(edges, seeds, iterations=2)
    return out.select(
        _bip_decode(F.col("node"), "p:", "s:").alias("node"),
        F.col("label").cast("bigint").alias("label"),
        F.col("round").cast("bigint").alias("round"),
    )


def _label_prop_round_sql(r: int, prev: str) -> str:
    return f""",
v{r} AS MATERIALIZED (
  SELECT sym.b AS node, {prev}.label, count(*) AS cnt
  FROM sym JOIN {prev} ON {prev}.node = sym.a
  GROUP BY 1, 2),
a{r} AS (
  SELECT node, label, {r} AS round
  FROM v{r} WHERE node NOT IN (SELECT node FROM {prev})
  QUALIFY row_number()
    OVER (PARTITION BY node ORDER BY cnt DESC, label ASC) = 1),
l{r} AS MATERIALIZED (
  SELECT * FROM {prev} UNION ALL SELECT * FROM a{r})"""


ORACLE_LABEL_PROPAGATION = f"""
WITH e AS MATERIALIZED (
  SELECT DISTINCT 'p:' || l_partkey AS a, 's:' || l_suppkey AS b
  FROM lineitem),
sym AS MATERIALIZED (
  SELECT a, b FROM e UNION SELECT b, a FROM e),
l0 AS MATERIALIZED (
  SELECT 's:' || s_suppkey AS node, min(s_nationkey) AS label, 0 AS round
  FROM supplier WHERE s_suppkey % 10 = 0 GROUP BY 1){_label_prop_round_sql(1, "l0")}{_label_prop_round_sql(2, "l1")}
SELECT node, CAST(label AS BIGINT) AS label, CAST(round AS BIGINT) AS round
FROM l2
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / compression per language slice
    (operators/text_analysis.py tokenizer_fertility): BPE-ish units per
    whitespace word, chars and bytes per unit — all row-local codegen
    counters into ONE hash aggregate."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        tokenizer_fertility,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tokenizer_fertility(docs, text_col="text", group_cols=["lang"])


ORACLE_TOKENIZER_FERTILITY = r"""
WITH per AS (
  SELECT lang,
         length(coalesce(text, '')) AS ch,
         strlen(coalesce(text, '')) AS by,
         len(list_filter(
             string_split_regex(trim(lower(coalesce(text, ''))), '\s+'),
             x -> x != '')) AS words,
         len(regexp_extract_all(coalesce(text, ''),
             '\p{L}+|\p{N}+|[^\p{L}\p{N}\s]')) AS toks
  FROM documents)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(ch) AS BIGINT) AS n_chars,
       CAST(sum(by) AS BIGINT) AS n_bytes,
       CAST(sum(words) AS BIGINT) AS n_words,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       round(CASE WHEN sum(words) > 0
                  THEN CAST(sum(toks) AS DOUBLE) / sum(words) END, 6)
         AS fertility,
       round(CASE WHEN sum(toks) > 0
                  THEN CAST(sum(ch) AS DOUBLE) / sum(toks) END, 6)
         AS chars_per_token,
       round(CASE WHEN sum(toks) > 0
                  THEN CAST(sum(by) AS DOUBLE) / sum(toks) END, 6)
         AS bytes_per_token
FROM per GROUP BY lang
"""


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (operators/search.py
    doc_keywords): per-doc TF aggregate, vocabulary-sized DF table,
    smoothed IDF, per-doc row_number window with (score desc, token)
    tiebreak."""
    from knot_another_pipeline_spark.operators.search import doc_keywords

    docs = load_table(spark, sf_dir, "documents")
    return doc_keywords(docs, id_col="doc_id", text_col="text", k=3)


ORACLE_DOC_KEYWORDS = rf"""
WITH toks AS ({_TOKS_SQL}),
tf AS (
  SELECT id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id AS id, unnest(t) AS token FROM toks)
  GROUP BY 1, 2),
nd AS (SELECT count(*) AS n_docs FROM toks),
dfq AS (SELECT token, count(DISTINCT id) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.id, tf.token, tf.tf,
         round(tf.tf * (ln((nd.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0), 6)
           AS score
  FROM tf JOIN dfq USING (token) CROSS JOIN nd)
SELECT id, CAST(rank AS BIGINT) AS rank, token, tf, score
FROM (
  SELECT *, row_number()
    OVER (PARTITION BY id ORDER BY score DESC, token ASC) AS rank
  FROM scored)
WHERE rank <= 3
"""


def q_covisitation_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-visitation scored by Dunning's log-likelihood ratio
    (operators/behavior.py covisitation_llr) over order baskets from
    lineitem: basket-key self-join bounded by basket size, min_count
    prune before the margin joins, row-local G²."""
    from knot_another_pipeline_spark.operators.behavior import (
        covisitation_llr,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return covisitation_llr(
        li, basket_col="l_orderkey", item_col="l_partkey", min_count=2
    )


ORACLE_COVISITATION_LLR = """
WITH bi AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS item
  FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
pairs AS (
  SELECT x.item AS item_a, y.item AS item_b, count(*) AS n_both
  FROM bi x JOIN bi y ON x.b = y.b AND x.item < y.item
  GROUP BY 1, 2 HAVING count(*) >= 2),
marg AS (SELECT item, count(*) AS n_item FROM bi GROUP BY 1),
tot AS (SELECT count(DISTINCT b) AS n_baskets FROM bi),
j AS (
  SELECT p.item_a, p.item_b, p.n_both,
         ma.n_item AS n_a, mb.n_item AS n_b, t.n_baskets
  FROM pairs p
  JOIN marg ma ON ma.item = p.item_a
  JOIN marg mb ON mb.item = p.item_b
  CROSS JOIN tot t),
terms AS (
  SELECT *,
         CAST(n_baskets AS DOUBLE) AS n,
         CAST(n_both AS DOUBLE) AS k11,
         CAST(n_a - n_both AS DOUBLE) AS k12,
         CAST(n_b - n_both AS DOUBLE) AS k21,
         CAST(n_baskets - n_a - n_b + n_both AS DOUBLE) AS k22,
         CAST(n_a AS DOUBLE) AS ra, CAST(n_b AS DOUBLE) AS ca
  FROM j)
SELECT item_a, item_b,
       CAST(n_both AS BIGINT) AS n_both,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(n_baskets AS BIGINT) AS n_baskets,
       round(2.0 * (
         (CASE WHEN k11 > 0 THEN k11 * ln(k11 * n / (ra * ca)) ELSE 0 END)
         + (CASE WHEN k12 > 0 THEN k12 * ln(k12 * n / (ra * (n - ca))) ELSE 0 END)
         + (CASE WHEN k21 > 0 THEN k21 * ln(k21 * n / ((n - ra) * ca)) ELSE 0 END)
         + (CASE WHEN k22 > 0 THEN k22 * ln(k22 * n / ((n - ra) * (n - ca))) ELSE 0 END)
       ), 6) AS llr
FROM terms
"""


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/graph.py personalized_pagerank)
    on the bipartite order↔part graph, teleporting to every 50th part —
    the seeded-authority ranking. 2 iterations, d=0.85; the oracle
    unrolls the identical algebra with bit-identical literals."""
    from knot_another_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # BIGINT node encoding through the iteration shuffles; decode in
    # the final projection only (_bip_decode; −31% A/B, bit-identical).
    fwd = li.select(
        _bip_even(F.col("l_orderkey")).alias("src"),
        _bip_odd(F.col("l_partkey")).alias("dst"),
    )
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    part = load_table(spark, sf_dir, "part")
    # retail-price teleport weights, not uniform 1/|S|: uniform seed
    # mass over 40 seeds is 0.025, whose products through d=0.85 and
    # small outdegrees are TERMINATING decimals ending in 5 — exact
    # round-half ties that summation-order fp noise flips between
    # engines at any rounding precision. Messy weights make every rank
    # non-terminating, so a 1-ulp wobble can never cross a tie.
    seeds = part.filter(F.col("p_partkey") % 50 == 0).select(
        _bip_odd(F.col("p_partkey")).alias("node"),
        F.col("p_retailprice").cast("double").alias("w"),
    )
    out = personalized_pagerank(
        edges, seeds, weight_col="w", iterations=2, damping=0.85
    )
    return out.select(
        _bip_decode(F.col("node"), "o:", "p:").alias("node"),
        F.round("rank", 8).alias("rank"),
    )


def _ppr_iter_sql(cur: str, prev: str) -> str:
    # literals mirror the Spark operator's Python-float arithmetic
    # (1.0 - 0.85 is 0.15000000000000002 in binary64, not 0.15)
    return f""",
{cur} AS MATERIALIZED (
  SELECT b.node,
         {1.0 - 0.85!r} * b.s
         + 0.85 * coalesce(sum({prev}.rank / dg.outdeg), 0) AS rank
  FROM based b
  LEFT JOIN edges e ON e.dst = b.node
  LEFT JOIN {prev} ON {prev}.node = e.src
  LEFT JOIN deg dg ON dg.src = e.src
  GROUP BY b.node, b.s)"""


ORACLE_PERSONALIZED_PAGERANK = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT 'o:' || l_orderkey AS src, 'p:' || l_partkey AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT 'p:' || l_partkey AS src, 'o:' || l_orderkey AS dst
  FROM lineitem),
seeds AS (
  SELECT 'p:' || p_partkey AS node,
         sum(CAST(p_retailprice AS DOUBLE)) AS w
  FROM part WHERE p_partkey % 50 = 0
    AND CAST(p_retailprice AS DOUBLE) > 0
  GROUP BY 1),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst FROM edges
  UNION SELECT node FROM seeds),
tw AS (SELECT sum(w) AS t FROM seeds),
based AS MATERIALIZED (
  SELECT nd.node,
         coalesce(s.w / (SELECT t FROM tw), 0.0) AS s
  FROM nodes nd LEFT JOIN seeds s ON s.node = nd.node),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT node, s AS rank FROM based){_ppr_iter_sql("r1", "r0")}{_ppr_iter_sql("r2", "r1")}
SELECT node, round(rank, 8) AS rank FROM r2
"""


def q_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 / MRR / P@10 / R@10 of the BM25 top-20 for 'hash join
    filter' against graded term-coverage relevance (rel = #distinct
    query terms present) — operators/evaluation.py ranking_metrics
    closing the retrieval loop with a measured quality number."""
    from knot_another_pipeline_spark.operators.evaluation import (
        ranking_metrics,
    )
    from knot_another_pipeline_spark.operators.search import bm25_search
    from knot_another_pipeline_spark.operators.text_analysis import _tokens

    docs = load_table(spark, sf_dir, "documents")
    ranked = (
        bm25_search(
            docs, id_col="doc_id", text_col="text",
            query="hash join filter", k=20,
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("score"), F.asc("id"))
            ),
        )
        .withColumn("query_id", F.lit("q1"))
    )
    truth = (
        docs.select(
            F.col("doc_id").alias("id"),
            F.size(
                F.array_intersect(
                    F.array_distinct(_tokens(F.col("text"))),
                    F.array(F.lit("filter"), F.lit("hash"), F.lit("join")),
                )
            ).alias("rel"),
        )
        .filter(F.col("rel") > 0)
        .withColumn("query_id", F.lit("q1"))
    )
    return ranking_metrics(ranked, truth, k=10)


ORACLE_RANKING_METRICS = rf"""
WITH toks AS ({_TOKS_SQL}),
base AS (SELECT doc_id AS id, CAST(len(t) AS DOUBLE) AS dl, t FROM toks),
posting AS (SELECT id, dl, unnest(t) AS token FROM base),
qt AS (SELECT unnest(['filter', 'hash', 'join']) AS token),
tfq AS (
  SELECT p.id, p.dl, p.token, CAST(count(*) AS DOUBLE) AS tf
  FROM posting p JOIN qt USING (token)
  GROUP BY 1, 2, 3),
dfreq AS (SELECT token, count(DISTINCT id) AS df FROM tfq GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM toks),
bm AS (
  SELECT tfq.id,
         round(sum(
           ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * tfq.tf * (1.2 + 1.0)
           / (tfq.tf + 1.2 * ((1.0 - 0.75) + 0.75 * tfq.dl / s.avgdl))
         ), 6) AS score
  FROM tfq JOIN dfreq d USING (token) CROSS JOIN stats s
  GROUP BY tfq.id),
ranked AS (
  SELECT id, row_number() OVER (ORDER BY score DESC, id ASC) AS rank
  FROM bm ORDER BY score DESC, id ASC LIMIT 20),
truth AS (
  SELECT doc_id AS id,
         CAST(len(list_intersect(list_distinct(t),
                                 ['filter', 'hash', 'join'])) AS DOUBLE)
           AS rel
  FROM toks
  WHERE len(list_intersect(list_distinct(t), ['filter', 'hash', 'join'])) > 0),
joined AS (
  SELECT r.rank, coalesce(t.rel, 0.0) AS rel
  FROM ranked r LEFT JOIN truth t USING (id)),
perq AS (
  SELECT count(*) AS n_retrieved,
         sum(CASE WHEN rank <= 10
                  THEN rel / (ln(rank + 1.0) / ln(2.0)) ELSE 0.0 END) AS dcg,
         min(CASE WHEN rel > 0 THEN rank END) AS minrank,
         sum(CASE WHEN rank <= 10 AND rel > 0 THEN 1 ELSE 0 END) AS hits
  FROM joined),
ideal AS (
  SELECT count(*) AS n_relevant,
         sum(CASE WHEN pos <= 10
                  THEN rel / (ln(pos + 1.0) / ln(2.0)) ELSE 0.0 END) AS idcg
  FROM (SELECT rel,
               row_number() OVER (ORDER BY rel DESC, id ASC) AS pos
        FROM truth))
SELECT 'q1' AS query,
       CAST(p.n_retrieved AS BIGINT) AS n_retrieved,
       CAST(coalesce(i.n_relevant, 0) AS BIGINT) AS n_relevant,
       round(CASE WHEN i.idcg > 0 THEN p.dcg / i.idcg END, 6) AS ndcg,
       round(CASE WHEN p.minrank IS NOT NULL
                  THEN 1.0 / p.minrank END, 6) AS mrr,
       round(CAST(p.hits AS DOUBLE) / 10, 6) AS precision_at_k,
       round(CASE WHEN i.n_relevant > 0
                  THEN CAST(p.hits AS DOUBLE) / i.n_relevant END, 6)
         AS recall_at_k
FROM perq p CROSS JOIN ideal i
"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event type (operators/quality.py
    hll_distinct, p=9): md5-derived registers so the ESTIMATE itself is
    engine-portable — one (group, register) max-rho aggregate, 512-row
    bound per group regardless of input size."""
    from knot_another_pipeline_spark.operators.quality import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    return hll_distinct(
        ev, group_cols=["event_type"], value_col="user_id", p=9
    )


_HLL_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / 512) * 512 * 512

ORACLE_HLL_DISTINCT = f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 10))
              AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (
  SELECT event_type, h >> 31 AS reg,
         CASE WHEN (h & 2147483647) > 0
              THEN 32 - length(to_base(h & 2147483647, 2))
              ELSE 32 END AS rho
  FROM h),
mx AS (SELECT event_type, reg, max(rho) AS rho FROM r GROUP BY 1, 2),
pg AS (
  SELECT event_type, count(*) AS hit,
         sum(power(2.0, -rho)) AS zsum
  FROM mx GROUP BY 1),
est AS (
  SELECT event_type, hit,
         {_HLL_ALPHA_M2!r} / (zsum + (512 - hit)) AS raw,
         512 - hit AS v
  FROM pg)
SELECT event_type,
       CAST(hit AS BIGINT) AS n_registers_hit,
       round(CASE WHEN raw <= 2.5 * 512 AND v > 0
                  THEN 512.0 * ln(512.0 / v)
                  ELSE raw END, 2) AS hll_estimate
FROM est
"""


def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin cluster-quality readout over the labeled
    embedding table (operators/similarity.py cluster_quality):
    long-form centroids, broadcast centroid joins, k²·d rival matrix —
    scatter, nearest rival, DB term per label."""
    from knot_another_pipeline_spark.operators.similarity import (
        cluster_quality,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_quality(
        emb, id_col="vec_id", vec_col="embedding", label_col="label"
    )


ORACLE_CLUSTER_QUALITY = """
WITH pts AS MATERIALIZED (
  SELECT vec_id AS id, label, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label IS NOT NULL AND len(embedding) > 0),
flat AS (
  SELECT id, label, generate_subscripts(v, 1) AS dim, unnest(v) AS x
  FROM pts),
cent AS MATERIALIZED (
  SELECT label, dim, avg(x) AS c FROM flat GROUP BY 1, 2),
d2 AS (
  SELECT f.id, f.label, sum(pow(f.x - c.c, 2)) AS dd
  FROM flat f JOIN cent c ON c.label = f.label AND c.dim = f.dim
  GROUP BY 1, 2),
scat AS MATERIALIZED (
  SELECT label, count(*) AS n_points, avg(sqrt(dd)) AS s
  FROM d2 GROUP BY 1),
cdist AS (
  SELECT a.label AS la, b.label AS lb,
         sqrt(sum(pow(a.c - b.c, 2))) AS d
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label != b.label
  GROUP BY 1, 2),
rterms AS (
  SELECT la, lb, d, round((sa.s + sb.s) / d, 6) AS dbt,
         row_number() OVER (PARTITION BY la ORDER BY d ASC, lb ASC) AS rn
  FROM cdist
  JOIN scat sa ON sa.label = cdist.la
  JOIN scat sb ON sb.label = cdist.lb),
rival AS (
  SELECT r1.la AS label, r1.lb AS nearest_label,
         round(r1.d, 6) AS nearest_dist, mx.db_term
  FROM rterms r1
  JOIN (SELECT la, max(dbt) AS db_term FROM rterms GROUP BY la) mx
    ON mx.la = r1.la
  WHERE r1.rn = 1)
SELECT s.label, CAST(s.n_points AS BIGINT) AS n_points,
       round(s.s, 6) AS scatter,
       r.nearest_label, r.nearest_dist, r.db_term
FROM scat s LEFT JOIN rival r ON r.label = s.label
"""


def q_join_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity health of the events.user_id →
    customer.c_custkey join (operators/quality.py join_health): orphan
    rate, dim-key duplication, fan-out — ONE left join against the
    per-key dim count table plus two conditional aggregates."""
    from knot_another_pipeline_spark.operators.quality import join_health

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return join_health(ev, cust, fact_key="user_id", dim_key="c_custkey")


ORACLE_JOIN_HEALTH = """
WITH dcnt AS (
  SELECT c_custkey AS k, count(*) AS n_dim_rows
  FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1),
j AS (
  SELECT e.user_id AS k, d.n_dim_rows
  FROM events e LEFT JOIN dcnt d ON d.k = e.user_id),
rep AS (
  SELECT count(*) AS n_fact,
         sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS n_fact_null_key,
         sum(CASE WHEN n_dim_rows IS NOT NULL THEN 1 ELSE 0 END)
           AS n_matched,
         sum(coalesce(n_dim_rows, 0)) AS out_rows,
         max(coalesce(n_dim_rows, 0)) AS max_fanout
  FROM j),
ds AS (
  SELECT sum(n_dim_rows) AS n_dim,
         sum(CASE WHEN n_dim_rows > 1 THEN 1 ELSE 0 END) AS n_dim_dup_keys
  FROM dcnt)
SELECT CAST(n_fact AS BIGINT) AS n_fact,
       CAST(n_fact_null_key AS BIGINT) AS n_fact_null_key,
       CAST(coalesce(n_dim, 0) AS BIGINT) AS n_dim,
       CAST(coalesce(n_dim_dup_keys, 0) AS BIGINT) AS n_dim_dup_keys,
       CAST(n_matched AS BIGINT) AS n_matched,
       CAST(n_fact - n_matched AS BIGINT) AS n_orphan,
       round(CASE WHEN n_fact > 0
                  THEN CAST(n_matched AS DOUBLE) / n_fact END, 6)
         AS match_rate,
       round(CASE WHEN n_matched > 0
                  THEN CAST(out_rows AS DOUBLE) / n_matched END, 6)
         AS avg_fanout,
       CAST(max_fanout AS BIGINT) AS max_fanout
FROM rep CROSS JOIN ds
"""


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER candidates over customers ordered by name
    (operators/dedup.py sorted_neighborhood_pairs, window=5):
    global_rank positions (distributed prefix sums, no single-task
    ORDER BY), block-equi-join neighborhood expansion."""
    from knot_another_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    cust = load_table(spark, sf_dir, "customer")
    return sorted_neighborhood_pairs(
        cust, id_col="c_custkey", sort_key_col="c_name", window=5
    )


ORACLE_SORTED_NEIGHBORHOOD = """
WITH ranked AS (
  SELECT c_custkey AS id,
         row_number() OVER (ORDER BY c_name ASC, c_custkey ASC) AS rank
  FROM customer)
SELECT a.id AS id_a, b.id AS id_b,
       a.rank AS rank_a, b.rank AS rank_b,
       b.rank - a.rank AS rank_gap
FROM ranked a JOIN ranked b
  ON b.rank > a.rank AND b.rank - a.rank < 5
"""


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean document length
    (operators/quality.py bootstrap_ci, 100 replicates): md5-uniform →
    Poisson(1) weights per (doc, replicate), one reps-row aggregate —
    the coordination-free cluster bootstrap, deterministic to the bit."""
    from knot_another_pipeline_spark.operators.quality import bootstrap_ci

    docs = load_table(spark, sf_dir, "documents")
    return bootstrap_ci(
        docs, id_col="doc_id", value_col="n_chars", reps=100, level=0.95
    )


def _bootstrap_oracle_sql() -> str:
    from knot_another_pipeline_spark.operators.quality import _POISSON1_CDF

    w_cases = " + ".join(
        f"(CASE WHEN u >= {t!r} THEN 1 ELSE 0 END)" for t in _POISSON1_CDF
    )
    alpha = (1.0 - 0.95) / 2.0
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, CAST(n_chars AS DOUBLE) AS x
  FROM documents WHERE n_chars IS NOT NULL),
rep AS (
  SELECT id, x, r FROM base, (SELECT unnest(range(100)) AS r)),
uw AS (
  SELECT x, r,
         CAST(CAST(concat('0x', substr(md5(concat(id, ':', CAST(r AS VARCHAR))), 1, 10))
              AS BIGINT) AS DOUBLE) / 1099511627776.0 AS u
  FROM rep),
ww AS (SELECT x, r, CAST({w_cases} AS DOUBLE) AS w FROM uw),
means AS (
  SELECT r, sum(w * x) / sum(w) AS m
  FROM ww GROUP BY r HAVING sum(w) > 0),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m ASC, r ASC) AS rk FROM means),
cnt AS (SELECT count(*) AS n FROM means),
lo AS (SELECT m FROM ranked, cnt
       WHERE rk = CAST((n - 1) * {alpha!r} AS BIGINT) + 1),
hi AS (SELECT m FROM ranked, cnt
       WHERE rk = n - CAST((n - 1) * {alpha!r} AS BIGINT)),
overall AS (SELECT count(*) AS n_rows, avg(x) AS mean FROM base)
SELECT CAST(o.n_rows AS BIGINT) AS n_rows,
       CAST(100 AS BIGINT) AS reps,
       round(o.mean, 6) AS mean,
       round(lo.m, 6) AS boot_lo,
       round(hi.m, 6) AS boot_hi
FROM overall o CROSS JOIN lo CROSS JOIN hi
"""


ORACLE_BOOTSTRAP_CI = _bootstrap_oracle_sql()


def q_categorical_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI of the event-type mix between the even and odd
    event-id halves (operators/evaluation.py categorical_psi): union of
    levels, Laplace-smoothed shares, one level-count aggregate per
    side."""
    from knot_another_pipeline_spark.operators.evaluation import (
        categorical_psi,
    )

    ev = load_table(spark, sf_dir, "events")
    return categorical_psi(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "event_type",
    )


ORACLE_CATEGORICAL_PSI = """
WITH e AS (
  SELECT coalesce(CAST(event_type AS VARCHAR), '(null)') AS level,
         count(*) AS n_e
  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
a AS (
  SELECT coalesce(CAST(event_type AS VARCHAR), '(null)') AS level,
         count(*) AS n_a
  FROM events WHERE event_id % 2 = 1 GROUP BY 1),
j AS (
  SELECT coalesce(e.level, a.level) AS level,
         CAST(coalesce(n_e, 0) AS DOUBLE) AS n_e,
         CAST(coalesce(n_a, 0) AS DOUBLE) AS n_a
  FROM e FULL OUTER JOIN a ON a.level = e.level),
t AS (SELECT sum(n_e) AS te, sum(n_a) AS ta, count(*) AS nl FROM j),
p AS (
  SELECT t.te, t.ta, t.nl,
         ((n_a + 0.5) / (ta + 0.5 * nl) - (n_e + 0.5) / (te + 0.5 * nl))
         * ln(((n_a + 0.5) / (ta + 0.5 * nl))
              / ((n_e + 0.5) / (te + 0.5 * nl))) AS term
  FROM j CROSS JOIN t),
s AS (SELECT te, ta, nl, round(sum(term), 6) AS psi
      FROM p GROUP BY 1, 2, 3)
SELECT psi,
       CASE WHEN psi < 0.1 THEN 'stable'
            WHEN psi < 0.25 THEN 'moderate'
            ELSE 'shifted' END AS verdict,
       CAST(nl AS BIGINT) AS n_levels,
       CAST(te AS BIGINT) AS n_expected,
       CAST(ta AS BIGINT) AS n_actual
FROM s
"""


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by matrix-free
    power iteration (operators/similarity.py pca_power_iteration, 2
    iterations, centered): two matvec shuffles per iteration in long
    form, no d×d covariance. The oracle unrolls the identical iterate
    sequence including the deterministic 1/√d init and sign fix."""
    from knot_another_pipeline_spark.operators.similarity import (
        pca_power_iteration,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_iteration(
        emb, id_col="vec_id", vec_col="embedding", dim=64, iterations=2
    )


def _pca_iter_sql(cur_s: str, cur_w: str, cur_v: str, prev_v: str) -> str:
    return f""",
{cur_s} AS MATERIALIZED (
  SELECT l.id, sum(l.x * v.v) AS s
  FROM long l JOIN {prev_v} v ON v.dim = l.dim
  GROUP BY l.id),
{cur_w} AS MATERIALIZED (
  SELECT l.dim, sum(s.s * l.x) AS w
  FROM long l JOIN {cur_s} s ON s.id = l.id
  GROUP BY l.dim),
{cur_v} AS MATERIALIZED (
  SELECT dim, w / (SELECT sqrt(sum(w * w)) FROM {cur_w}) AS v
  FROM {cur_w})"""


ORACLE_PCA_POWER = f"""
WITH raw AS (
  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings),
mu AS (SELECT dim, avg(x) AS mu FROM raw GROUP BY 1),
long AS MATERIALIZED (
  SELECT r.id, r.dim, r.x - m.mu AS x
  FROM raw r JOIN mu m ON m.dim = r.dim),
v0 AS (SELECT unnest(range(64)) AS dim, 1.0 / sqrt(64.0) AS v)
{_pca_iter_sql("s1", "w1", "v1", "v0")}{_pca_iter_sql("s2", "w2", "v2", "v1")},
lam AS (
  SELECT sqrt(sum(w * w))
         / (SELECT count(DISTINCT id) FROM long) AS ev
  FROM w2),
star AS (
  SELECT v FROM v2 ORDER BY abs(v) DESC, dim ASC LIMIT 1),
flip AS (SELECT CASE WHEN (SELECT v FROM star) < 0 THEN -1.0 ELSE 1.0 END AS f)
SELECT CAST(dim AS INT) AS dim,
       round(v * (SELECT f FROM flip), 6) AS loading,
       round((SELECT ev FROM lam), 6) AS eigenvalue
FROM v2
"""


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson matrix over the four lineitem numerics
    (operators/quality.py correlation_matrix): all 6 pairs from ONE
    conditional-aggregate pass, pairwise-complete, closed-form sums."""
    from knot_another_pipeline_spark.operators.quality import (
        correlation_matrix,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, cols=["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def _corr_pair_sql(a: str, b: str) -> str:
    return f"""
  SELECT '{a}' AS col_a, '{b}' AS col_b,
         CAST(count(*) AS BIGINT) AS n,
         CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) > 0
               AND count(*) * sum(y * y) - sum(y) * sum(y) > 0
              THEN round(
                (count(*) * sum(x * y) - sum(x) * sum(y))
                / sqrt((count(*) * sum(x * x) - sum(x) * sum(x))
                       * (count(*) * sum(y * y) - sum(y) * sum(y))), 6)
         END AS corr
  FROM (SELECT CAST({a} AS DOUBLE) AS x, CAST({b} AS DOUBLE) AS y
        FROM lineitem
        WHERE {a} IS NOT NULL AND {b} IS NOT NULL)"""


ORACLE_CORRELATION_MATRIX = "\nUNION ALL\n".join(
    _corr_pair_sql(a, b)
    for i, a in enumerate(
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    for b in ["l_quantity", "l_extendedprice", "l_discount", "l_tax"][
        i + 1:
    ]
)


def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of event values as weights, per event
    type (operators/sampling.py effective_sample_size): the honesty
    check on weighted data — ONE conditional aggregate."""
    from knot_another_pipeline_spark.operators.sampling import (
        effective_sample_size,
    )

    ev = load_table(spark, sf_dir, "events")
    return effective_sample_size(
        ev, group_cols=["event_type"], weight_col="value"
    )


ORACLE_EFFECTIVE_SAMPLE_SIZE = """
WITH a AS (
  SELECT event_type,
         sum(CASE WHEN value IS NOT NULL AND value > 0 THEN 1 ELSE 0 END)
           AS n,
         sum(CASE WHEN value IS NULL OR value <= 0 THEN 1 ELSE 0 END)
           AS nx,
         sum(CASE WHEN value > 0 THEN CAST(value AS DOUBLE) END) AS sw,
         sum(CASE WHEN value > 0
                  THEN CAST(value AS DOUBLE) * CAST(value AS DOUBLE) END)
           AS sww,
         max(CASE WHEN value > 0 THEN CAST(value AS DOUBLE) END) AS mw
  FROM events GROUP BY 1)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       CAST(nx AS BIGINT) AS n_excluded,
       round(sw, 6) AS sum_w,
       round(CASE WHEN sww > 0 THEN sw * sw / sww END, 6) AS ess,
       round(CASE WHEN n > 0 AND sww > 0
                  THEN (sw * sw / sww) / n END, 6) AS ess_ratio,
       round(CASE WHEN sw > 0 THEN mw / sw END, 6) AS max_w_share
FROM a
"""


def q_slice_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix diversity per language slice (operators/quality.py
    slice_diversity): entropy / Simpson / top-share from two chained
    hash aggregates — the dataset-balance readout."""
    from knot_another_pipeline_spark.operators.quality import (
        slice_diversity,
    )

    docs = load_table(spark, sf_dir, "documents")
    return slice_diversity(
        docs, group_cols=["lang"], category_col="source"
    )


ORACLE_SLICE_DIVERSITY = """
WITH c AS (
  SELECT lang, coalesce(CAST(source AS VARCHAR), '(null)') AS lvl,
         count(*) AS cnt
  FROM documents GROUP BY 1, 2),
t AS (SELECT lang, sum(cnt) AS n, count(*) AS l FROM c GROUP BY 1),
p AS (
  SELECT c.lang, t.n, t.l, CAST(c.cnt AS DOUBLE) / t.n AS p
  FROM c JOIN t ON t.lang = c.lang)
SELECT lang,
       CAST(n AS BIGINT) AS n,
       CAST(l AS BIGINT) AS n_levels,
       round(sum(-p * ln(p)), 6) AS entropy,
       round(CASE WHEN l > 1
                  THEN sum(-p * ln(p)) / ln(CAST(l AS DOUBLE)) END, 6)
         AS norm_entropy,
       round(sum(p * p), 6) AS simpson,
       round(max(p), 6) AS top_share
FROM p GROUP BY lang, n, l
"""


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss 64→8 projection of the embedding corpus
    with the md5-derived ±1 matrix (operators/similarity.py
    random_projection): generated broadcast matrix, one equi-join, one
    (id, out_dim) aggregate — nothing stored, any engine regenerates
    the matrix bit-for-bit."""
    from knot_another_pipeline_spark.operators.similarity import (
        random_projection,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(
        emb, id_col="vec_id", vec_col="embedding", in_dim=64, out_dim=8
    )


ORACLE_RANDOM_PROJECTION = """
WITH grid AS (
  SELECT CAST(idx // 8 AS INT) AS i, CAST(idx % 8 AS INT) AS out_i,
         CASE WHEN CAST(concat('0x',
                substr(md5(concat(CAST(idx // 8 AS VARCHAR), ':',
                                  CAST(idx % 8 AS VARCHAR))), 1, 10))
                AS BIGINT) & 1 = 1
              THEN 1.0 ELSE -1.0 END AS sign
  FROM (SELECT unnest(range(512)) AS idx)),
long AS (
  SELECT vec_id AS id, generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings)
SELECT l.id, g.out_i,
       round(sum(l.x * g.sign) * (1.0 / sqrt(8.0)), 6) AS value
FROM long l JOIN grid g ON g.i = l.i
GROUP BY 1, 2
"""


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint per event-type value series
    (operators/temporal.py changepoint_detect): prefix-sum SSE scan,
    one window per series, argmin fold with earliest-position
    tiebreak."""
    from knot_another_pipeline_spark.operators.temporal import (
        changepoint_detect,
    )

    ev = load_table(spark, sf_dir, "events")
    return changepoint_detect(
        ev,
        series_col="event_type",
        order_col="ts",
        value_col="value",
        tiebreak_col="event_id",
    )


ORACLE_CHANGEPOINT = """
WITH base AS (
  SELECT event_type AS series, ts AS ord, event_id AS tb,
         CAST(value AS DOUBLE) AS x
  FROM events WHERE value IS NOT NULL),
cum AS (
  SELECT series, ord, x,
         row_number() OVER w AS t,
         sum(x) OVER w AS s,
         sum(x * x) OVER w AS q,
         count(*) OVER (PARTITION BY series) AS n,
         sum(x) OVER (PARTITION BY series) AS sn,
         sum(x * x) OVER (PARTITION BY series) AS qn
  FROM base
  WINDOW w AS (PARTITION BY series ORDER BY ord ASC, tb ASC
               ROWS UNBOUNDED PRECEDING)),
cand AS (
  SELECT series, ord, t, n,
         round((q - s * s / CAST(t AS DOUBLE))
               + ((qn - q) - (sn - s) * (sn - s)
                  / (CAST(n AS DOUBLE) - CAST(t AS DOUBLE))), 6) AS cost,
         round(qn - sn * sn / CAST(n AS DOUBLE), 6) AS sse_total
  FROM cum WHERE t < n),
pick AS (
  SELECT series, t, ord, cost, sse_total, n,
         row_number() OVER (PARTITION BY series
                            ORDER BY cost ASC, t ASC) AS rn
  FROM cand)
SELECT series, CAST(n AS BIGINT) AS n, CAST(t AS BIGINT) AS split_pos,
       ord AS split_order, sse_total, cost AS sse_split,
       round(sse_total - cost, 6) AS gain
FROM pick WHERE rn = 1
"""


def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent synthetic sessions per event type
    (operators/temporal.py max_concurrency): intervals [ts, ts+value
    minutes] in epoch seconds, ±1 sweep-line with half-open
    semantics, one window per group; non-positive durations exercise
    the dropped-interval count."""
    from knot_another_pipeline_spark.operators.temporal import (
        max_concurrency,
    )

    epoch_s = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        epoch_s.alias("start_s"),
        (epoch_s + F.col("value") * 60.0).alias("end_s"),
    )
    return max_concurrency(
        ev, group_cols=["event_type"], start_col="start_s", end_col="end_s"
    )


ORACLE_MAX_CONCURRENCY = """
WITH iv AS (
  SELECT event_type, epoch_us(ts) / 1000000.0 AS s,
         epoch_us(ts) / 1000000.0 + CAST(value AS DOUBLE) * 60.0 AS e
  FROM events),
marked AS (
  SELECT event_type, s, e,
         (s IS NOT NULL AND e IS NOT NULL AND e > s) AS ok
  FROM iv),
drops AS (
  SELECT event_type,
         sum(CASE WHEN ok THEN 1 ELSE 0 END) AS n_intervals,
         sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS n_dropped
  FROM marked GROUP BY 1),
ev AS (
  SELECT event_type, s AS t, 1 AS d FROM marked WHERE ok
  UNION ALL
  SELECT event_type, e AS t, -1 AS d FROM marked WHERE ok),
run AS (
  SELECT event_type, t, d,
         sum(d) OVER (PARTITION BY event_type
                      ORDER BY t ASC, d ASC) AS r
  FROM ev),
peak AS (
  SELECT event_type, max(r) AS max_concurrent FROM run GROUP BY 1),
fp AS (
  SELECT run.event_type, p.max_concurrent, min(run.t) AS peak_time
  FROM run JOIN peak p ON p.event_type = run.event_type
  WHERE run.r = p.max_concurrent
  GROUP BY 1, 2)
SELECT d.event_type,
       CAST(d.n_intervals AS BIGINT) AS n_intervals,
       CAST(d.n_dropped AS BIGINT) AS n_dropped,
       CAST(coalesce(fp.max_concurrent, 0) AS BIGINT) AS max_concurrent,
       fp.peak_time
FROM drops d LEFT JOIN fp ON fp.event_type = d.event_type
"""


def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quantiles per return flag
    (operators/quality.py weighted_quantiles): one cumulative-mass
    window over DISTINCT values serves all four quantiles in one
    aggregate."""
    from knot_another_pipeline_spark.operators.quality import (
        weighted_quantiles,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return weighted_quantiles(
        li,
        group_cols=["l_returnflag"],
        value_col="l_extendedprice",
        weight_col="l_quantity",
        quantiles=[0.25, 0.5, 0.75, 0.9],
    )


ORACLE_WEIGHTED_QUANTILES = """
WITH mass AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
         sum(CAST(l_quantity AS DOUBLE)) AS m
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity > 0
  GROUP BY 1, 2),
cum AS (
  SELECT l_returnflag, v,
         sum(m) OVER (PARTITION BY l_returnflag ORDER BY v ASC) AS cw,
         sum(m) OVER (PARTITION BY l_returnflag) AS tw
  FROM mass)
SELECT l_returnflag,
       round(min(CASE WHEN cw >= 0.25 * tw THEN v END), 6) AS q25,
       round(min(CASE WHEN cw >= 0.5 * tw THEN v END), 6) AS q50,
       round(min(CASE WHEN cw >= 0.75 * tw THEN v END), 6) AS q75,
       round(min(CASE WHEN cw >= 0.9 * tw THEN v END), 6) AS q90
FROM cum GROUP BY 1
"""


def q_ips_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy IPS/SNIPS replay value of a deterministic target
    policy (even users → purchase, odd → click) on the event log
    (operators/evaluation.py ips_policy_value), with logged propensity
    = the empirical action share — one conditional aggregate."""
    from knot_another_pipeline_spark.operators.evaluation import (
        ips_policy_value,
    )

    ev = load_table(spark, sf_dir, "events")
    total = ev.agg(F.count(F.lit(1)).alias("_tot"))
    share = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            (F.col("_cnt").cast("double") / F.col("_tot")).alias(
                "propensity"
            ),
        )
    )
    logs = ev.join(F.broadcast(share), "event_type").withColumn(
        "policy_action",
        F.when(F.col("user_id") % 2 == 0, F.lit("purchase")).otherwise(
            F.lit("click")
        ),
    )
    return ips_policy_value(
        logs,
        action_col="event_type",
        propensity_col="propensity",
        reward_col="value",
        policy_action_col="policy_action",
    )


ORACLE_IPS_POLICY_VALUE = """
WITH tot AS (SELECT count(*) AS t FROM events),
share AS (
  SELECT event_type,
         CAST(count(*) AS DOUBLE) / (SELECT t FROM tot) AS p
  FROM events GROUP BY 1),
logs AS (
  SELECT e.event_type AS a, s.p, CAST(e.value AS DOUBLE) AS r,
         CASE WHEN e.user_id % 2 = 0 THEN 'purchase'
              ELSE 'click' END AS pol
  FROM events e JOIN share s ON s.event_type = e.event_type),
agg AS (
  SELECT
    sum(CASE WHEN p > 0 AND r IS NOT NULL THEN 1 ELSE 0 END) AS n,
    sum(CASE WHEN p IS NULL OR p <= 0 OR r IS NULL THEN 1 ELSE 0 END)
      AS n_dropped,
    sum(CASE WHEN p > 0 AND r IS NOT NULL AND a = pol THEN 1 ELSE 0 END)
      AS nm,
    avg(CASE WHEN p > 0 AND r IS NOT NULL THEN r END) AS avg_r,
    sum(CASE WHEN p > 0 AND r IS NOT NULL AND a = pol THEN r / p END)
      AS swr,
    sum(CASE WHEN p > 0 AND r IS NOT NULL AND a = pol THEN 1.0 / p END)
      AS sw
  FROM logs)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n_dropped AS BIGINT) AS n_dropped,
       round(CASE WHEN n > 0 THEN CAST(nm AS DOUBLE) / n END, 6)
         AS match_rate,
       round(avg_r, 6) AS avg_logged_reward,
       round(CASE WHEN n > 0 THEN coalesce(swr, 0) / n END, 6)
         AS ips_value,
       round(CASE WHEN sw > 0 THEN swr / sw END, 6) AS snips_value
FROM agg
"""


def q_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-group size histogram of the document corpus
    (operators/dedup.py dedup_summary): fingerprint → group sizes →
    size histogram with corpus dup-rate riding along — the dedup
    run's one-page readout."""
    from knot_another_pipeline_spark.operators.dedup import dedup_summary

    docs = load_table(spark, sf_dir, "documents")
    return dedup_summary(docs, id_col="doc_id", text_col="text")


ORACLE_DEDUP_SUMMARY = r"""
WITH fp AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')))
           AS fingerprint
  FROM documents),
groups AS (
  SELECT fingerprint, count(*) AS group_size FROM fp GROUP BY 1),
hist AS (
  SELECT group_size, count(*) AS n_groups FROM groups GROUP BY 1),
tot AS (
  SELECT sum(group_size) AS n_docs_total, count(*) AS n_groups_total
  FROM groups)
SELECT CAST(group_size AS BIGINT) AS group_size,
       CAST(n_groups AS BIGINT) AS n_groups,
       CAST(group_size * n_groups AS BIGINT) AS n_docs_in,
       round(CAST(group_size * n_groups AS DOUBLE) / n_docs_total, 6)
         AS pct_of_corpus,
       CAST(n_docs_total AS BIGINT) AS n_docs_total,
       CAST(n_groups_total AS BIGINT) AS n_groups_total,
       round(CAST(n_docs_total - n_groups_total AS DOUBLE)
             / n_docs_total, 6) AS dup_rate
FROM hist CROSS JOIN tot
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit over the top-500 vocabulary
    (operators/text_analysis.py zipf_fit): one token aggregate,
    TakeOrdered top-V, closed-form OLS on the ≤V log-log points."""
    from knot_another_pipeline_spark.operators.text_analysis import zipf_fit

    docs = load_table(spark, sf_dir, "documents")
    return zipf_fit(docs, text_col="text", top_v=500)


ORACLE_ZIPF_FIT = rf"""
WITH toks AS ({_TOKS_SQL}),
counts AS (
  SELECT token, count(*) AS cnt
  FROM (SELECT unnest(t) AS token FROM toks) GROUP BY 1),
tot AS (SELECT count(*) AS vocab_size, sum(cnt) AS n_tokens FROM counts),
top AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token ASC) AS r
  FROM counts ORDER BY cnt DESC, token ASC LIMIT 500),
xy AS (
  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
  FROM top),
fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS m, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM xy)
SELECT CAST(tot.vocab_size AS BIGINT) AS vocab_size,
       CAST(tot.n_tokens AS BIGINT) AS n_tokens,
       CAST(f.m AS BIGINT) AS top_v_used,
       round(CASE WHEN f.m * f.sxx - f.sx * f.sx > 0
                  THEN (f.m * f.sxy - f.sx * f.sy)
                       / (f.m * f.sxx - f.sx * f.sx) END, 6) AS slope,
       round((f.sy - (CASE WHEN f.m * f.sxx - f.sx * f.sx > 0
                           THEN (f.m * f.sxy - f.sx * f.sy)
                                / (f.m * f.sxx - f.sx * f.sx) END)
                    * f.sx) / f.m, 6) AS intercept,
       round(CASE WHEN f.m * f.sxx - f.sx * f.sx > 0
                   AND f.m * f.syy - f.sy * f.sy > 0
                  THEN (f.m * f.sxy - f.sx * f.sy)
                       * (f.m * f.sxy - f.sx * f.sy)
                       / ((f.m * f.sxx - f.sx * f.sx)
                          * (f.m * f.syy - f.sy * f.sy)) END, 6) AS r2
FROM fit f CROSS JOIN tot
"""


def q_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive tokens per document source by frequency lift
    (operators/text_analysis.py distinctive_terms): slice share vs
    corpus share, min_count pruned before any join, per-slice
    vocabulary window."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        distinctive_terms,
    )

    docs = load_table(spark, sf_dir, "documents")
    return distinctive_terms(
        docs, group_col="source", text_col="text", k=5, min_count=10
    )


ORACLE_SOURCE_TERMS = r"""
WITH gt AS (
  SELECT source AS grp, token, count(*) AS c_gt FROM (
    SELECT source,
           unnest(list_filter(
             string_split_regex(trim(lower(text)), '\s+'),
             x -> x != '')) AS token
    FROM documents)
  GROUP BY 1, 2),
tok_tot AS (SELECT token, sum(c_gt) AS c_t FROM gt GROUP BY 1),
n_all AS (SELECT sum(c_gt) AS n FROM gt),
grp_tot AS (SELECT grp, sum(c_gt) AS n_g FROM gt GROUP BY 1),
scored AS (
  SELECT gt.grp, gt.token, gt.c_gt,
         round((CAST(gt.c_gt AS DOUBLE) / g.n_g)
               / (CAST(tt.c_t AS DOUBLE) / (SELECT n FROM n_all)), 6)
           AS lift
  FROM gt
  JOIN grp_tot g ON g.grp = gt.grp
  JOIN tok_tot tt ON tt.token = gt.token
  WHERE gt.c_gt >= 10)
SELECT grp AS "group", CAST(rank AS BIGINT) AS rank, token,
       CAST(c_gt AS BIGINT) AS n_in_group, lift
FROM (
  SELECT *, row_number()
    OVER (PARTITION BY grp ORDER BY lift DESC, token ASC) AS rank
  FROM scored)
WHERE rank <= 5
"""


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OOV rate of the 20% held-out document slice against
    the training slice's top-2000 vocabulary, plus the Good–Turing
    unseen-mass estimate (operators/text_analysis.py oov_rate):
    broadcast vocabulary, one per-slice conditional aggregate."""
    from knot_another_pipeline_spark.operators.text_analysis import oov_rate

    docs = load_table(spark, sf_dir, "documents")
    return oov_rate(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        text_col="text",
        group_cols=["lang"],
        top_v=2000,
    )


ORACLE_OOV_RATE = r"""
WITH trc AS (
  SELECT token, count(*) AS cnt FROM (
    SELECT unnest(list_filter(
             string_split_regex(trim(lower(text)), '\s+'),
             x -> x != '')) AS token
    FROM documents WHERE doc_id % 5 != 0)
  GROUP BY 1),
vocab AS (SELECT token FROM trc ORDER BY cnt DESC, token ASC LIMIT 2000),
gts AS (
  SELECT sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS n1,
         sum(cnt) AS nn, count(*) AS vs
  FROM trc),
tt AS (
  SELECT lang, unnest(list_filter(
           string_split_regex(trim(lower(text)), '\s+'),
           x -> x != '')) AS token
  FROM documents WHERE doc_id % 5 = 0),
per AS (
  SELECT tt.lang, count(*) AS n_tokens,
         sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tt LEFT JOIN vocab v ON v.token = tt.token
  GROUP BY 1)
SELECT lang,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_oov AS BIGINT) AS n_oov,
       round(CASE WHEN n_tokens > 0
                  THEN CAST(n_oov AS DOUBLE) / n_tokens END, 6)
         AS oov_rate,
       CAST(least(g.vs, 2000) AS BIGINT) AS vocab_size,
       round(CASE WHEN g.nn > 0
                  THEN CAST(g.n1 AS DOUBLE) / g.nn END, 6)
         AS gt_unseen_mass
FROM per CROSS JOIN gts g
"""


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch join size estimate for lineitem⋈orders on orderkey
    (operators/relational.py join_cardinality_estimate, k=128): two
    corpus scans reduce to ≤128-hash sketches + row counts; the join
    is never run — the planning readout behind broadcast/skew
    decisions."""
    from knot_another_pipeline_spark.operators.relational import (
        join_cardinality_estimate,
    )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return join_cardinality_estimate(
        li, orders, left_key="l_orderkey", right_key="o_orderkey", k=128
    )


_JC_EST_SQL = """
  CASE WHEN m < 128 THEN CAST(m AS DOUBLE)
       ELSE round(127.0 / (CAST(concat('0x', mx) AS BIGINT)
                           / 1152921504606846976.0), 0) END
"""

ORACLE_JOIN_CARDINALITY = f"""
WITH ha AS (
  SELECT DISTINCT substr(md5('0:' || CAST(l_orderkey AS VARCHAR)), 1, 15)
    AS h
  FROM lineitem WHERE l_orderkey IS NOT NULL),
hb AS (
  SELECT DISTINCT substr(md5('0:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
    AS h
  FROM orders WHERE o_orderkey IS NOT NULL),
ka AS (SELECT h FROM ha ORDER BY h LIMIT 128),
kb AS (SELECT h FROM hb ORDER BY h LIMIT 128),
ku AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)
       ORDER BY h LIMIT 128),
ca AS (SELECT count(*) AS n_rows_a FROM lineitem
       WHERE l_orderkey IS NOT NULL),
cb AS (SELECT count(*) AS n_rows_b FROM orders
       WHERE o_orderkey IS NOT NULL),
ea AS (SELECT count(*) AS m, max(h) AS mx FROM ka),
eb AS (SELECT count(*) AS m, max(h) AS mx FROM kb),
eu AS (SELECT count(*) AS m, max(h) AS mx FROM ku),
est AS (
  SELECT (SELECT {_JC_EST_SQL} FROM ea) AS n_a,
         (SELECT {_JC_EST_SQL} FROM eb) AS n_b,
         (SELECT {_JC_EST_SQL} FROM eu) AS n_u,
         (SELECT n_rows_a FROM ca) AS n_rows_a,
         (SELECT n_rows_b FROM cb) AS n_rows_b)
SELECT CAST(n_rows_a AS BIGINT) AS n_rows_a,
       CAST(n_rows_b AS BIGINT) AS n_rows_b,
       CAST(n_a AS BIGINT) AS est_distinct_a,
       CAST(n_b AS BIGINT) AS est_distinct_b,
       CAST(greatest(0.0, n_a + n_b - n_u) AS BIGINT) AS est_key_overlap,
       CAST(CASE WHEN n_a > 0 AND n_b > 0
                 THEN round(greatest(0.0, n_a + n_b - n_u)
                            * (n_rows_a / n_a) * (n_rows_b / n_b), 0)
                 ELSE 0.0 END AS BIGINT) AS est_join_rows
FROM est
"""


def q_dbscan_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density spatial clustering of the derived AIS positions
    (operators/tracks.py dbscan_grid, 15° cells, min_pts=40): density
    cut is one cell aggregate, components over DENSE cells only — the
    anchorage/hotspot detector. The oracle replays the density cut and
    closes adjacency with a recursive CTE."""
    from knot_another_pipeline_spark.operators.tracks import dbscan_grid

    pos = _positions(spark, sf_dir)
    return dbscan_grid(
        pos, lat_col="lat", lon_col="lon", cell_deg=15.0, min_pts=40
    )


ORACLE_DBSCAN_GRID = f"""
WITH RECURSIVE
pos AS ({_POSITIONS_SQL}),
cells AS (
  SELECT CAST(floor(lon / 15.0) AS BIGINT) AS cell_x,
         CAST(floor(lat / 15.0) AS BIGINT) AS cell_y,
         count(*) AS n_points
  FROM pos GROUP BY 1, 2 HAVING count(*) >= 40),
dense AS (
  SELECT *, cell_x || ':' || cell_y AS k FROM cells),
pairs AS (
  SELECT a.k AS id_a, b.k AS id_b
  FROM dense a JOIN dense b
    ON abs(a.cell_x - b.cell_x) <= 1
   AND abs(a.cell_y - b.cell_y) <= 1
   AND a.k < b.k),
bidir(a, b) AS (
  SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM bidir
  UNION
  SELECT r.a, e.b FROM reach r JOIN bidir e ON r.b = e.a),
comp AS (
  SELECT a AS k, least(a, min(b)) AS component FROM reach GROUP BY a)
SELECT d.cell_x, d.cell_y,
       CAST(d.n_points AS BIGINT) AS n_points,
       coalesce(c.component, d.k) AS cluster
FROM dense d LEFT JOIN comp c ON c.k = d.k
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document lengths across language
    slices (operators/features.py quantile_normalize): within-group
    quantile → pooled order statistic via global_rank — every slice
    ends up with the identical length distribution."""
    from knot_another_pipeline_spark.operators.features import (
        quantile_normalize,
    )

    docs = load_table(spark, sf_dir, "documents")
    return quantile_normalize(
        docs, id_col="doc_id", group_col="lang", value_col="n_chars"
    )


ORACLE_QUANTILE_NORMALIZE = """
WITH base AS (
  SELECT doc_id AS id, lang AS grp, CAST(n_chars AS DOUBLE) AS value
  FROM documents WHERE n_chars IS NOT NULL),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY grp ORDER BY value, id) AS rk,
         count(*) OVER (PARTITION BY grp) AS ng
  FROM base),
pooled AS (
  SELECT value AS pv, row_number() OVER (ORDER BY value, id) AS idx
  FROM base),
nt AS (SELECT count(*) AS n FROM base),
wi AS (
  SELECT id, grp, value,
         CAST(floor((CASE WHEN ng > 1
                          THEN CAST(rk - 1 AS DOUBLE) / (ng - 1)
                          ELSE 0.5 END) * (n - 1)) AS BIGINT) + 1 AS idx
  FROM r CROSS JOIN nt)
SELECT wi.id, wi.grp AS "group", wi.value,
       round(p.pv, 6) AS normalized
FROM wi JOIN pooled p USING (idx)
"""


def q_proportion_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of the value>50 conversion rate, click vs
    view events (operators/quality.py proportion_test): both groups'
    counts in ONE conditional aggregate, fixed-α verdicts."""
    from knot_another_pipeline_spark.operators.quality import (
        proportion_test,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "converted", F.col("value") > 50
    )
    return proportion_test(
        ev,
        group_col="event_type",
        success_col="converted",
        group_a="click",
        group_b="view",
    )


ORACLE_PROPORTION_TEST = """
WITH agg AS (
  SELECT
    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n_b,
    sum(CASE WHEN event_type = 'click' AND value > 50 THEN 1 ELSE 0 END)
      AS s_a,
    sum(CASE WHEN event_type = 'view' AND value > 50 THEN 1 ELSE 0 END)
      AS s_b
  FROM events
  WHERE (value > 50) IS NOT NULL
    AND event_type IN ('click', 'view')),
c AS (
  SELECT n_a, n_b, s_a, s_b,
         CASE WHEN n_a > 0 THEN CAST(s_a AS DOUBLE) / n_a END AS pa,
         CASE WHEN n_b > 0 THEN CAST(s_b AS DOUBLE) / n_b END AS pb,
         CASE WHEN n_a + n_b > 0
              THEN CAST(s_a + s_b AS DOUBLE) / (n_a + n_b) END AS pool
  FROM agg),
z AS (
  SELECT *,
         CASE WHEN n_a > 0 AND n_b > 0 AND pool > 0 AND pool < 1
              THEN (pa - pb) / sqrt(pool * (1 - pool)
                   * (1.0 / n_a + 1.0 / n_b)) END AS zz
  FROM c)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(s_a AS BIGINT) AS successes_a,
       CAST(s_b AS BIGINT) AS successes_b,
       round(pa, 6) AS p_a, round(pb, 6) AS p_b,
       round(pa - pb, 6) AS diff, round(zz, 6) AS z,
       CASE WHEN zz IS NOT NULL
            THEN abs(zz) > 1.959963984540054 END AS significant_95,
       CASE WHEN zz IS NOT NULL
            THEN abs(zz) > 2.5758293035489004 END AS significant_99
FROM z
"""


def q_reweight_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance weights reshaping four document sources to a declared
    30/20/20/30 target mix (operators/sampling.py reweight_to_target):
    one group-count aggregate, broadcast target literals, Kish ESS
    riding along."""
    from knot_another_pipeline_spark.operators.sampling import (
        reweight_to_target,
    )

    docs = load_table(spark, sf_dir, "documents")
    return reweight_to_target(
        docs,
        group_col="source",
        target_shares={
            "src0": 0.3,
            "src1": 0.2,
            "src2": 0.2,
            "src3": 0.3,
        },
    )


ORACLE_REWEIGHT_TO_TARGET = """
WITH tgt(grp, t) AS (
  VALUES ('src0', 0.3), ('src1', 0.2), ('src2', 0.2), ('src3', 0.3)),
counts AS (
  SELECT d.source AS grp, count(*) AS n, any_value(t.t) AS t
  FROM documents d JOIN tgt t ON t.grp = d.source
  WHERE d.source IS NOT NULL
  GROUP BY 1 HAVING any_value(t.t) > 0),
tot AS (SELECT sum(n) AS nn, sum(t) AS tt FROM counts),
scored AS (
  SELECT grp, n,
         CAST(n AS DOUBLE) / tot.nn AS obs,
         t / tot.tt AS tgt_share
  FROM counts CROSS JOIN tot),
ess AS (
  SELECT sum(n * (tgt_share / obs)) AS snw,
         sum(n * (tgt_share / obs) * (tgt_share / obs)) AS snww,
         sum(n) AS n_all
  FROM scored)
SELECT s.grp AS "group",
       CAST(s.n AS BIGINT) AS n,
       round(s.obs, 6) AS observed_share,
       round(s.tgt_share, 6) AS target_share,
       round(s.tgt_share / s.obs, 6) AS weight,
       round(e.snw * e.snw / e.snww, 6) AS ess,
       round(e.snw * e.snw / e.snww / e.n_all, 6) AS ess_ratio
FROM scored s CROSS JOIN ess e
"""


def q_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap of the five event-type segments
    (operators/behavior.py audience_overlap): entity-key self-join
    bounded by segments-per-entity, per-direction containment +
    Jaccard."""
    from knot_another_pipeline_spark.operators.behavior import (
        audience_overlap,
    )

    ev = load_table(spark, sf_dir, "events")
    return audience_overlap(
        ev, entity_col="user_id", segment_col="event_type"
    )


ORACLE_AUDIENCE_OVERLAP = """
WITH m AS (
  SELECT DISTINCT user_id AS e, event_type AS s
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
pairs AS (
  SELECT x.s AS segment_a, y.s AS segment_b, count(*) AS n_both
  FROM m x JOIN m y ON x.e = y.e AND x.s < y.s
  GROUP BY 1, 2),
sizes AS (SELECT s, count(*) AS n_seg FROM m GROUP BY 1)
SELECT p.segment_a, p.segment_b,
       CAST(p.n_both AS BIGINT) AS n_both,
       CAST(sa.n_seg AS BIGINT) AS n_a,
       CAST(sb.n_seg AS BIGINT) AS n_b,
       round(CAST(p.n_both AS DOUBLE) / sa.n_seg, 6)
         AS containment_a_in_b,
       round(CAST(p.n_both AS DOUBLE) / sb.n_seg, 6)
         AS containment_b_in_a,
       round(CAST(p.n_both AS DOUBLE)
             / (sa.n_seg + sb.n_seg - p.n_both), 6) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.s = p.segment_a
JOIN sizes sb ON sb.s = p.segment_b
"""


def q_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the 16 deterministic Voronoi cells over the
    embedding corpus (operators/similarity.py cluster_purity):
    broadcast assignment, (cell, label) aggregate, struct-max majority
    with min-label tiebreak, corpus-weighted overall purity."""
    from knot_another_pipeline_spark.operators.similarity import (
        cluster_purity,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_purity(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        label_col="label",
        num_centroids=16,
    )


ORACLE_CLUSTER_PURITY = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nn FROM e),
cents AS (SELECT vec_id AS cent_id, v AS centv, nn AS centn
          FROM n ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
assigned AS (
  SELECT vec_id, label, cell FROM (
    SELECT n.vec_id, n.label, c.cent_id AS cell,
           row_number() OVER (
             PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, c.centv) / (n.nn * c.centn) DESC,
                      c.cent_id ASC) AS rn
    FROM n CROSS JOIN cents c
    WHERE n.label IS NOT NULL) WHERE rn = 1),
cl AS (
  SELECT cell, label, count(*) AS cnt
  FROM assigned GROUP BY 1, 2),
per AS (
  SELECT cell, sum(cnt) AS n_vectors, count(*) AS n_labels
  FROM cl GROUP BY 1),
top AS (
  SELECT cell, label AS majority_label, cnt AS mc FROM (
    SELECT *, row_number() OVER (
      PARTITION BY cell ORDER BY cnt DESC, label ASC) AS rn
    FROM cl) WHERE rn = 1),
shaped AS (
  SELECT p.cell, p.n_vectors, p.n_labels, t.majority_label,
         CAST(t.mc AS DOUBLE) / p.n_vectors AS ms, t.mc
  FROM per p JOIN top t ON t.cell = p.cell),
ov AS (SELECT sum(mc) / sum(n_vectors) AS op FROM shaped)
SELECT CAST(cell AS BIGINT) AS cell,
       CAST(n_vectors AS BIGINT) AS n_vectors,
       CAST(n_labels AS BIGINT) AS n_labels,
       CAST(majority_label AS BIGINT) AS majority_label,
       round(ms, 6) AS majority_share,
       round((SELECT op FROM ov), 6) AS overall_purity
FROM shaped
"""


def q_seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (same-weekday-last-week) forecast baseline over
    daily event counts per type (operators/temporal.py
    seasonal_naive_error): one lag(7) window per series, MAE/MAPE/bias
    — the floor every forecast must beat."""
    from knot_another_pipeline_spark.operators.temporal import (
        seasonal_naive_error,
    )

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return seasonal_naive_error(
        daily, series_col="event_type", date_col="d", value_col="n",
        period=7,
    )


ORACLE_SEASONAL_NAIVE_ERROR = """
WITH daily AS (
  SELECT event_type AS series, CAST(ts AS DATE) AS d,
         CAST(count(*) AS DOUBLE) AS x
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT series, x,
         lag(x, 7) OVER (PARTITION BY series ORDER BY d ASC) AS pred
  FROM daily)
SELECT series,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_scored,
       round(avg(CASE WHEN pred IS NOT NULL
                      THEN abs(x - pred) END), 6) AS mae,
       round(avg(CASE WHEN pred IS NOT NULL AND x != 0
                      THEN abs(x - pred) / abs(x) END), 6) AS mape,
       round(avg(CASE WHEN pred IS NOT NULL THEN x - pred END), 6)
         AS bias
FROM lagged GROUP BY series
"""


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-health drift between the even and odd event-id halves
    (operators/quality.py profile_drift): two one-pass profiles diffed
    per column with null-rate / distinct-ratio verdicts — the check a
    daily pipeline runs before publishing."""
    from knot_another_pipeline_spark.operators.quality import profile_drift

    ev = load_table(spark, sf_dir, "events")
    return profile_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        ["user_id", "event_type", "value", "props"],
    )


def _profile_side_sql(pred: str, tag: str) -> str:
    cols = ["user_id", "event_type", "value", "props"]
    rows = " UNION ALL ".join(
        f"""SELECT '{c}' AS col_name,
           (SELECT count(*) FROM events WHERE {pred}) AS n_rows_{tag},
           (SELECT count(*) - count({c}) FROM events WHERE {pred})
             AS nn_{tag},
           (SELECT count(DISTINCT {c}) FROM events WHERE {pred})
             AS nd_{tag},
           (SELECT CAST(min({c}) AS VARCHAR) FROM events WHERE {pred})
             AS min_{tag},
           (SELECT CAST(max({c}) AS VARCHAR) FROM events WHERE {pred})
             AS max_{tag}"""
        for c in cols
    )
    return rows


ORACLE_PROFILE_DRIFT = f"""
WITH b AS ({_profile_side_sql("event_id % 2 = 0", "base")}),
c AS ({_profile_side_sql("event_id % 2 = 1", "cur")}),
j AS (
  SELECT b.col_name, b.n_rows_base, c.n_rows_cur,
         CASE WHEN b.n_rows_base > 0
              THEN CAST(b.nn_base AS DOUBLE) / b.n_rows_base
              ELSE 0.0 END AS nrb,
         CASE WHEN c.n_rows_cur > 0
              THEN CAST(c.nn_cur AS DOUBLE) / c.n_rows_cur
              ELSE 0.0 END AS nrc,
         CASE WHEN b.nd_base > 0
              THEN CAST(c.nd_cur AS DOUBLE) / b.nd_base END AS dr,
         (b.min_base IS DISTINCT FROM c.min_cur)
           OR (b.max_base IS DISTINCT FROM c.max_cur) AS mm
  FROM b JOIN c ON c.col_name = b.col_name)
SELECT col_name,
       CAST(n_rows_base AS BIGINT) AS n_rows_base,
       CAST(n_rows_cur AS BIGINT) AS n_rows_cur,
       round(nrb, 6) AS null_rate_base,
       round(nrc, 6) AS null_rate_cur,
       round(nrc - nrb, 6) AS null_rate_delta,
       round(dr, 6) AS distinct_ratio,
       mm AS minmax_changed,
       CASE WHEN abs(nrc - nrb) > 0.05
             AND dr IS NOT NULL AND (dr < 0.5 OR dr > 1.5)
            THEN 'null_rate_drift+distinct_drift'
            WHEN abs(nrc - nrb) > 0.05 THEN 'null_rate_drift'
            WHEN dr IS NOT NULL AND (dr < 0.5 OR dr > 1.5)
            THEN 'distinct_drift'
            ELSE 'ok' END AS verdict
FROM j
"""


def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor of daily event counts per type (operators/quality.py
    fano_burstiness): two chained aggregates, closed-form population
    variance — the burstiness readout."""
    from knot_another_pipeline_spark.operators.quality import (
        fano_burstiness,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "d", F.to_date("ts")
    )
    return fano_burstiness(
        ev, group_cols=["event_type"], bucket_col="d"
    )


ORACLE_FANO_BURSTINESS = """
WITH counts AS (
  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
  FROM events GROUP BY 1, 2),
agg AS (
  SELECT event_type, count(*) AS n_buckets, avg(n) AS m,
         sum(CAST(n AS DOUBLE) * n) AS sq
  FROM counts GROUP BY 1)
SELECT event_type,
       CAST(n_buckets AS BIGINT) AS n_buckets,
       round(m, 6) AS mean_count,
       round(CASE WHEN n_buckets > 1
                  THEN sq / n_buckets - m * m END, 6) AS var_count,
       round(CASE WHEN n_buckets > 1 AND m > 0
                  THEN (sq / n_buckets - m * m) / m END, 6) AS fano
FROM agg
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding drift between the even and odd vec_id halves
    (operators/similarity.py embedding_drift): long-form centroids per
    side, centroid shift / cosine / norm ratio — the encoder-upgrade
    monitor; the corpora never join each other."""
    from knot_another_pipeline_spark.operators.similarity import (
        embedding_drift,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        id_col="vec_id",
        vec_col="embedding",
        label_col="label",
    )


def _emb_side_sql(pred: str, tag: str) -> str:
    return f"""
e_{tag} AS (
  SELECT CAST(label AS VARCHAR) AS grp,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE ({pred}) AND label IS NOT NULL),
cent_{tag} AS (
  SELECT grp, dim, avg(x) AS c
  FROM (SELECT grp, generate_subscripts(v, 1) AS dim, unnest(v) AS x
        FROM e_{tag})
  GROUP BY grp, dim),
stats_{tag} AS (
  SELECT grp, count(*) AS n_{tag},
         avg(sqrt(list_dot_product(v, v))) AS mn_{tag}
  FROM e_{tag} GROUP BY grp)"""


ORACLE_EMBEDDING_DRIFT = f"""
WITH {_emb_side_sql("vec_id % 2 = 0", "base")},
{_emb_side_sql("vec_id % 2 = 1", "cur")},
geom AS (
  SELECT b.grp,
         sqrt(sum(pow(c.c - b.c, 2))) AS shift,
         sum(c.c * b.c) AS dt,
         sqrt(sum(b.c * b.c)) AS nb,
         sqrt(sum(c.c * c.c)) AS nc
  FROM cent_base b JOIN cent_cur c
    ON c.grp = b.grp AND c.dim = b.dim
  GROUP BY b.grp)
SELECT coalesce(sb.grp, sc.grp) AS "group",
       CAST(coalesce(sb.n_base, 0) AS BIGINT) AS n_base,
       CAST(coalesce(sc.n_cur, 0) AS BIGINT) AS n_cur,
       round(g.shift, 6) AS centroid_shift,
       round(CASE WHEN g.nb > 0 AND g.nc > 0
                  THEN g.dt / (g.nb * g.nc) END, 6) AS centroid_cosine,
       round(CASE WHEN sb.mn_base > 0
                  THEN sc.mn_cur / sb.mn_base END, 6) AS norm_ratio
FROM stats_base sb
FULL OUTER JOIN stats_cur sc ON sc.grp = sb.grp
LEFT JOIN geom g ON g.grp = coalesce(sb.grp, sc.grp)
"""


def q_rank_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part-revenue rank movers, Feb vs Jan 1995
    (operators/relational.py rank_movers): within-period ranks from
    ONE global_rank over (period, value desc, key) — never a
    single-task per-period sort — TakeOrdered by |rank delta|."""
    from knot_another_pipeline_spark.operators.relational import rank_movers

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "month", F.date_format("l_shipdate", "yyyy-MM")
    ).withColumn(
        "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    out = rank_movers(
        li,
        period_col="month",
        key_col="l_partkey",
        value_col="revenue",
        period_a="1995-01",
        period_b="1995-02",
        k=20,
    )
    # round the per-period revenue sums: raw Σ(double) carries
    # summation-order noise past the harness's 9-digit canon
    return out.select(
        "key",
        F.round("value_a", 4).alias("value_a"),
        F.round("value_b", 4).alias("value_b"),
        "rank_a",
        "rank_b",
        "rank_delta",
    )


ORACLE_RANK_MOVERS = """
WITH base AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS period, l_partkey AS key,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DOUBLE)) AS value
  FROM lineitem
  WHERE strftime(l_shipdate, '%Y-%m') IN ('1995-01', '1995-02')
    AND l_partkey IS NOT NULL
  GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY period ORDER BY value DESC, key ASC) AS rank
  FROM base),
a AS (SELECT key, value AS value_a, rank AS rank_a
      FROM ranked WHERE period = '1995-01'),
b AS (SELECT key, value AS value_b, rank AS rank_b
      FROM ranked WHERE period = '1995-02'),
j AS (
  SELECT coalesce(a.key, b.key) AS key,
         round(value_a, 4) AS value_a, round(value_b, 4) AS value_b,
         CAST(rank_a AS BIGINT) AS rank_a,
         CAST(rank_b AS BIGINT) AS rank_b,
         CAST(rank_a - rank_b AS BIGINT) AS rank_delta
  FROM a FULL OUTER JOIN b ON b.key = a.key)
SELECT * FROM j
ORDER BY (CASE WHEN rank_delta IS NULL THEN 1 ELSE 0 END),
         abs(rank_delta) DESC, key ASC
LIMIT 20
"""


def q_binned_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event value and hour-of-day over a
    fixed 10×24 grid (operators/features.py binned_mutual_info): the
    nonlinear dependence screen — one cell aggregate, marginals
    re-aggregated from the cells."""
    from knot_another_pipeline_spark.operators.features import (
        binned_mutual_info,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "hod", F.hour("ts").cast("double")
    )
    return binned_mutual_info(
        ev,
        x_col="value",
        y_col="hod",
        x_bins=10,
        y_bins=24,
        x_lo=0.0,
        x_hi=500.0,
        y_lo=0.0,
        y_hi=24.0,
    )


ORACLE_BINNED_MUTUAL_INFO = f"""
WITH m AS (
  SELECT CAST(value AS DOUBLE) AS x, CAST(hour(ts) AS DOUBLE) AS y
  FROM events),
flags AS (
  SELECT x, y,
         (x IS NOT NULL AND y IS NOT NULL
          AND x >= 0.0 AND x < 500.0 AND y >= 0.0 AND y < 24.0) AS ok
  FROM m),
drops AS (
  SELECT sum(CASE WHEN ok THEN 1 ELSE 0 END) AS n_rows,
         sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS n_dropped
  FROM flags),
cells AS (
  SELECT floor((x - 0.0) / {500.0 / 10!r}) AS xb,
         floor((y - 0.0) / {24.0 / 24!r}) AS yb,
         count(*) AS c
  FROM flags WHERE ok GROUP BY 1, 2),
mx AS (SELECT xb, sum(c) AS cx FROM cells GROUP BY 1),
my AS (SELECT yb, sum(c) AS cy FROM cells GROUP BY 1),
n AS (SELECT sum(c) AS nn FROM cells),
mi AS (
  SELECT sum((CAST(c AS DOUBLE) / nn)
             * ln((CAST(c AS DOUBLE) / nn)
                  / ((CAST(cx AS DOUBLE) / nn)
                     * (CAST(cy AS DOUBLE) / nn)))) AS v
  FROM cells JOIN mx USING (xb) JOIN my USING (yb) CROSS JOIN n),
hx AS (
  SELECT sum(-(CAST(cx AS DOUBLE) / nn)
             * ln(CAST(cx AS DOUBLE) / nn)) AS v
  FROM mx CROSS JOIN n),
hy AS (
  SELECT sum(-(CAST(cy AS DOUBLE) / nn)
             * ln(CAST(cy AS DOUBLE) / nn)) AS v
  FROM my CROSS JOIN n)
SELECT CAST(d.n_rows AS BIGINT) AS n_rows,
       CAST(d.n_dropped AS BIGINT) AS n_dropped,
       round(mi.v, 6) AS mi,
       round(hx.v, 6) AS h_x,
       round(hy.v, 6) AS h_y,
       round(CASE WHEN least(hx.v, hy.v) > 0
                  THEN mi.v / least(hx.v, hy.v) END, 6) AS nmi
FROM drops d CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
"""


def q_dedup_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall curve of MinHash-estimated Jaccard over a
    4-threshold grid against the exact-duplicate truth set
    (operators/evaluation.py dedup_pr_curve): one candidate-set pass
    serves every threshold — the operating-point picker for the dedup
    stack."""
    from knot_another_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
        shingle_table,
    )
    from knot_another_pipeline_spark.operators.evaluation import (
        dedup_pr_curve,
    )
    from knot_another_pipeline_spark.operators.text_analysis import (
        fingerprint_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(
        docs, id_col="doc_id", text_col="text", n=3, distinct=False
    )
    # lazy pin: sig feeds cands + both scoring-join sides (see
    # q_minhash_pairs; same -12% A/B rationale)
    sig = minhash_signatures(sh, num_hashes=16).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(sig, bands=4, rows_per_band=4)
    scored = minhash_similarity(sig, cands, num_hashes=16)
    fp = fingerprint_documents(docs, id_col="doc_id", text_col="text")
    truth = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return dedup_pr_curve(
        scored,
        truth,
        score_col="est_jaccard",
        thresholds=[0.3, 0.5, 0.7, 0.9],
    )


ORACLE_DEDUP_PR_CURVE = r"""
WITH cand AS MATERIALIZED (
  SELECT least(id_a, id_b) AS pa, greatest(id_a, id_b) AS pb,
         max(est_jaccard) AS s
  FROM ({minhash}) mp
  WHERE id_a != id_b
  GROUP BY 1, 2),
fpx AS MATERIALIZED (
  SELECT doc_id AS id,
         md5(trim(regexp_replace(regexp_replace(lower(text),
             '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')))
           AS fingerprint
  FROM documents),
tr AS MATERIALIZED (
  SELECT DISTINCT least(a.id, b.id) AS pa, greatest(a.id, b.id) AS pb
  FROM fpx a JOIN fpx b
    ON a.fingerprint = b.fingerprint AND a.id < b.id),
nt AS (SELECT count(*) AS n_true FROM tr),
marked AS (
  SELECT c.pa, c.pb, c.s, (t.pa IS NOT NULL) AS hit
  FROM cand c LEFT JOIN tr t ON t.pa = c.pa AND t.pb = c.pb),
thr(threshold) AS (VALUES (0.3), (0.5), (0.7), (0.9)),
per AS (
  SELECT thr.threshold,
         sum(CASE WHEN m.s >= thr.threshold THEN 1 ELSE 0 END) AS n_pred,
         sum(CASE WHEN m.s >= thr.threshold AND m.hit
                  THEN 1 ELSE 0 END) AS tp
  FROM thr CROSS JOIN marked m GROUP BY 1)
SELECT CAST(threshold AS DOUBLE) AS threshold,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(tp AS BIGINT) AS tp,
       round(CASE WHEN n_pred > 0
                  THEN CAST(tp AS DOUBLE) / n_pred END, 6) AS precision,
       round(CASE WHEN nt.n_true > 0
                  THEN CAST(tp AS DOUBLE) / nt.n_true END, 6) AS recall,
       round(CASE WHEN n_pred > 0 AND nt.n_true > 0
                   AND CAST(tp AS DOUBLE) / n_pred
                       + CAST(tp AS DOUBLE) / nt.n_true > 0
                  THEN 2 * (CAST(tp AS DOUBLE) / n_pred)
                         * (CAST(tp AS DOUBLE) / nt.n_true)
                       / (CAST(tp AS DOUBLE) / n_pred
                          + CAST(tp AS DOUBLE) / nt.n_true) END, 6)
         AS f1
FROM per CROSS JOIN nt
"""

ORACLE_DEDUP_PR_CURVE = ORACLE_DEDUP_PR_CURVE.replace(
    "{minhash}", ORACLE_MINHASH_PAIRS
)


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact TF-IDF cosine similarity join over the document corpus
    (operators/dedup.py tfidf_cosine_pairs, df-cap 100, cosine ≥ 0.3):
    the weighted text-similarity tier between Jaccard and embeddings —
    sparse dot product as a capped postings self-join."""
    from knot_another_pipeline_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(
        docs, id_col="doc_id", text_col="text",
        min_cosine=0.3, max_doc_freq=100,
    )


ORACLE_TFIDF_COSINE_PAIRS = rf"""
WITH toks AS ({_TOKS_SQL}),
tf AS (
  SELECT id, token, CAST(count(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id AS id, unnest(t) AS token FROM toks)
  GROUP BY 1, 2),
nd AS (SELECT count(*) AS n_docs FROM toks),
dfq AS (
  SELECT token, count(DISTINCT id) AS df FROM tf GROUP BY 1
  HAVING count(DISTINCT id) <= 100),
wt AS (
  SELECT tf.id, tf.token,
         tf.tf * (ln((nd.n_docs + 1.0) / (dfq.df + 1.0)) + 1.0) AS w
  FROM tf JOIN dfq USING (token) CROSS JOIN nd),
nrm AS (
  SELECT id, token,
         w / sqrt(sum(w * w) OVER (PARTITION BY id)) AS w
  FROM wt)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(count(*) AS BIGINT) AS n_shared_tokens,
       round(sum(a.w * b.w), 6) AS cosine
FROM nrm a JOIN nrm b ON a.token = b.token AND a.id < b.id
GROUP BY 1, 2
HAVING round(sum(a.w * b.w), 6) >= 0.3
"""


def q_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earth-mover drift of the event value distribution between the
    even and odd event-id halves (operators/quality.py
    wasserstein_drift, 50-bin [0,500) grid): the drift distance in
    the column's own units, with edge-bin clamping."""
    from knot_another_pipeline_spark.operators.quality import (
        wasserstein_drift,
    )

    ev = load_table(spark, sf_dir, "events")
    return wasserstein_drift(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        "value",
        bins=50,
        lo=0.0,
        hi=500.0,
    )


ORACLE_WASSERSTEIN_DRIFT = f"""
WITH grid AS (SELECT unnest(range(50)) AS bin),
he AS (
  SELECT least(49, greatest(0,
           CAST(floor((CAST(value AS DOUBLE) - 0.0) / {500.0 / 50!r})
                AS BIGINT))) AS bin,
         count(*) AS n_e
  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
ha AS (
  SELECT least(49, greatest(0,
           CAST(floor((CAST(value AS DOUBLE) - 0.0) / {500.0 / 50!r})
                AS BIGINT))) AS bin,
         count(*) AS n_a
  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1),
j AS (
  SELECT g.bin,
         CAST(coalesce(n_e, 0) AS DOUBLE) AS n_e,
         CAST(coalesce(n_a, 0) AS DOUBLE) AS n_a
  FROM grid g LEFT JOIN he ON he.bin = g.bin
  LEFT JOIN ha ON ha.bin = g.bin),
t AS (SELECT sum(n_e) AS te, sum(n_a) AS ta FROM j),
cum AS (
  SELECT bin, n_e, n_a, te, ta,
         sum(n_e) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) / te
           AS ce,
         sum(n_a) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) / ta
           AS ca
  FROM j CROSS JOIN t)
SELECT round(sum(abs(ce - ca)) * {500.0 / 50!r}, 6) AS w1,
       round(sum((n_a / ta - n_e / te)
                 * ({0.0 + (500.0 / 50) / 2.0!r}
                    + bin * {500.0 / 50!r})), 6) AS mean_shift,
       CAST(te AS BIGINT) AS n_expected,
       CAST(ta AS BIGINT) AS n_actual
FROM cum GROUP BY te, ta
"""


def q_poisson_rate_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Poisson rate per 24h of exposure with normal-
    approximation CI (operators/quality.py poisson_rate_ci): ONE hash
    aggregate, row-local interval."""
    from knot_another_pipeline_spark.operators.quality import (
        poisson_rate_ci,
    )

    ev = load_table(spark, sf_dir, "events")
    return poisson_rate_ci(
        ev, group_cols=["event_type"], exposure=24.0
    )


ORACLE_POISSON_RATE_CI = f"""
WITH a AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       round(CAST(n AS DOUBLE) / 24.0, 6) AS rate,
       round(greatest(0.0, CAST(n AS DOUBLE)
             - {1.959963984540054!r} * sqrt(CAST(n AS DOUBLE))) / 24.0, 6)
         AS rate_lo,
       round((CAST(n AS DOUBLE)
              + {1.959963984540054!r} * sqrt(CAST(n AS DOUBLE))) / 24.0, 6)
         AS rate_hi
FROM a
"""


def q_track_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle track length and implied speed per entity over the
    derived AIS positions (operators/tracks.py track_length): one lag
    window on the entity key, codegen haversine, one aggregate."""
    from knot_another_pipeline_spark.operators.tracks import track_length

    pos = _positions(spark, sf_dir)
    return track_length(
        pos,
        entity_col="uid",
        ts_col="ts",
        lat_col="lat",
        lon_col="lon",
        tiebreak_col="event_id",
    )


ORACLE_TRACK_LENGTH = f"""
WITH pos AS ({_POSITIONS_SQL}),
seg AS (
  SELECT uid, ts, lat, lon,
         lag(lat) OVER w AS plat,
         lag(lon) OVER w AS plon
  FROM pos
  WINDOW w AS (PARTITION BY uid ORDER BY ts ASC, event_id ASC)),
km AS (
  SELECT uid, ts,
         CASE WHEN lat IS NOT NULL AND lon IS NOT NULL
               AND plat IS NOT NULL AND plon IS NOT NULL
              THEN 2 * 6371000.0 * asin(sqrt(
                     pow(sin(radians(lat - plat) / 2), 2)
                     + cos(radians(plat)) * cos(radians(lat))
                       * pow(sin(radians(lon - plon) / 2), 2))) / 1000.0
         END AS seg_km
  FROM seg)
SELECT uid AS entity,
       CAST(count(*) AS BIGINT) AS n_fixes,
       round(coalesce(sum(seg_km), 0.0), 3) AS total_km,
       round((epoch_us(max(ts)) - epoch_us(min(ts)))
             / {3600.0 * 1e6!r}, 3) AS elapsed_hours,
       round(CASE WHEN epoch_us(max(ts)) - epoch_us(min(ts)) > 0
                  THEN coalesce(sum(seg_km), 0.0)
                       / ((epoch_us(max(ts)) - epoch_us(min(ts)))
                          / {3600.0 * 1e6!r}) END, 3) AS avg_kmh
FROM km GROUP BY uid
"""


def q_community_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity and conductance of the label-propagation communities
    on the part↔supplier graph (operators/graph.py community_quality):
    the metric pass that turns "communities computed" into a measured
    structure number — one community-key aggregate after two map
    joins. The oracle replays the propagation AND the metrics."""
    from knot_another_pipeline_spark.operators.graph import (
        community_quality,
        label_propagation,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # Dedup the raw fact-derived edge list ONCE and pin it: both
    # label_propagation (union-symmetrize + distinct) and
    # community_quality (least/greatest + distinct) canonicalize their
    # input independently, and without this their two big distinct
    # aggregates each re-scan and re-shuffle the full 600k-row fact
    # projection (~12x the distinct pair count). The oracle's e0 CTE
    # is MATERIALIZED for the same reason.
    # BIGINT node encoding (even=part, odd=supplier): node ids never
    # reach the output (per-community metrics only), so no decode is
    # needed — the least/greatest canonicalization just needs ANY
    # consistent orientation of the unordered edge set (−22% A/B,
    # bit-identical output at sf0.01 and sf0.1).
    edges = (
        li.select(
            _bip_even(F.col("l_partkey")).alias("src"),
            _bip_odd(F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    supp = load_table(spark, sf_dir, "supplier")
    seeds = supp.filter(F.col("s_suppkey") % 10 == 0).select(
        _bip_odd(F.col("s_suppkey")).alias("node"),
        F.col("s_nationkey").alias("label"),
    )
    # checkpoint_each pins every propagation round: with the metric
    # pass consuming BOTH the labels and the edge list again, the
    # un-pinned 2-round lineage explodes combinatorially (measured 241
    # Exchanges / 81 parquet scans in one plan; 6.7 -> 3.5 s at sf0.1
    # pinned). The pinned rounds also materialize the lazy edge
    # checkpoint above in their first job, so later jobs reuse it.
    assign = label_propagation(
        edges, seeds, iterations=2, checkpoint_each=True
    ).select("node", F.col("label").alias("community"))
    return community_quality(edges, assign)


ORACLE_COMMUNITY_QUALITY = f"""
WITH e0 AS MATERIALIZED (
  SELECT DISTINCT 'p:' || l_partkey AS a, 's:' || l_suppkey AS b
  FROM lineitem),
sym AS MATERIALIZED (
  SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
l0 AS MATERIALIZED (
  SELECT 's:' || s_suppkey AS node, min(s_nationkey) AS label, 0 AS round
  FROM supplier WHERE s_suppkey % 10 = 0 GROUP BY 1){_label_prop_round_sql(1, "l0")}{_label_prop_round_sql(2, "l1")},
amap AS MATERIALIZED (
  SELECT node AS n, min(CAST(label AS VARCHAR)) AS c
  FROM l2 GROUP BY 1),
e AS MATERIALIZED (
  SELECT least(a, b) AS u, greatest(a, b) AS v FROM e0 WHERE a != b),
tagged AS MATERIALIZED (
  SELECT coalesce(mu.c, '(none)') AS cu, coalesce(mv.c, '(none)') AS cv
  FROM e LEFT JOIN amap mu ON mu.n = e.u
  LEFT JOIN amap mv ON mv.n = e.v),
m AS (SELECT count(*) AS m FROM tagged),
internal AS (
  SELECT cu AS community, count(*) AS internal_edges
  FROM tagged WHERE cu = cv GROUP BY 1),
ends AS (
  SELECT cu AS community, (cu != cv) AS is_cut FROM tagged
  UNION ALL
  SELECT cv AS community, (cu != cv) AS is_cut FROM tagged),
pervol AS (
  SELECT community, count(*) AS volume,
         sum(CASE WHEN is_cut THEN 1 ELSE 0 END) AS cut_edges
  FROM ends GROUP BY 1),
nn AS (SELECT c AS community, count(*) AS n_nodes FROM amap GROUP BY 1),
shaped AS (
  SELECT p.community,
         coalesce(nn.n_nodes, 0) AS n_nodes,
         coalesce(i.internal_edges, 0) AS internal_edges,
         p.cut_edges, p.volume, m.m,
         CAST(coalesce(i.internal_edges, 0) AS DOUBLE) / m.m
           - pow(CAST(p.volume AS DOUBLE) / (2 * m.m), 2) AS q
  FROM pervol p
  LEFT JOIN internal i ON i.community = p.community
  LEFT JOIN nn ON nn.community = p.community
  CROSS JOIN m),
tot AS (SELECT round(sum(q), 6) AS modularity FROM shaped)
SELECT community,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(internal_edges AS BIGINT) AS internal_edges,
       CAST(cut_edges AS BIGINT) AS cut_edges,
       CAST(volume AS BIGINT) AS volume,
       round(CASE WHEN least(CAST(volume AS DOUBLE),
                             2 * m - CAST(volume AS DOUBLE)) > 0
                  THEN CAST(cut_edges AS DOUBLE)
                       / least(CAST(volume AS DOUBLE),
                               2 * m - CAST(volume AS DOUBLE))
                  ELSE 0.0 END, 6) AS conductance,
       round(q, 6) AS modularity_term,
       (SELECT modularity FROM tot) AS modularity
FROM shaped
"""


# --------------------------------------------------------------------------
# Round-7 additions: model evaluation, preference data, loss weights
# --------------------------------------------------------------------------


def q_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 over a synthetic prediction table
    (operators/evaluation.py classification_report): every 5th vector's
    label is perturbed one class up, so each class has known confusion
    with its neighbor. One pair-key aggregate; margins from the tiny
    confusion table."""
    from knot_another_pipeline_spark.operators.evaluation import (
        classification_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    preds = emb.select(
        F.col("label").alias("y_true"),
        (
            (F.col("label") + F.when(F.col("vec_id") % 5 == 0, 1).otherwise(0))
            % 10
        ).alias("y_pred"),
    )
    return classification_report(preds, true_col="y_true", pred_col="y_pred")


ORACLE_CLASSIFICATION_REPORT = """
WITH p AS (
  SELECT label AS t,
         (label + CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END) % 10 AS pr
  FROM embeddings WHERE label IS NOT NULL),
conf AS (SELECT t, pr, count(*) AS n FROM p GROUP BY 1, 2),
sup AS (SELECT t AS label, sum(n) AS support FROM conf GROUP BY 1),
prd AS (SELECT pr AS label, sum(n) AS predicted FROM conf GROUP BY 1),
tp AS (SELECT t AS label, n AS tp FROM conf WHERE t = pr),
j AS (
  SELECT coalesce(s.label, pd.label) AS label,
         coalesce(s.support, 0) AS support,
         coalesce(pd.predicted, 0) AS predicted,
         coalesce(tp.tp, 0) AS tp
  FROM sup s
  FULL JOIN prd pd ON s.label = pd.label
  LEFT JOIN tp ON tp.label = coalesce(s.label, pd.label)),
m AS (
  SELECT label, support, predicted, tp,
         CASE WHEN predicted > 0 THEN tp * 1.0 / predicted END AS prec,
         CASE WHEN support > 0 THEN tp * 1.0 / support END AS rec
  FROM j)
SELECT label,
       CAST(support AS BIGINT) AS support,
       CAST(predicted AS BIGINT) AS predicted,
       CAST(tp AS BIGINT) AS tp,
       round(prec, 6) AS "precision",
       round(rec, 6) AS recall,
       round(CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
                   AND prec + rec > 0
                  THEN 2 * prec * rec / (prec + rec) END, 6) AS f1
FROM m
"""


def q_conformal_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal calibration per event type (operators/
    evaluation.py conformal_threshold): md5 hash-split, exact rank
    order statistic at ceil((n+1)(1-alpha)), held-out coverage readout.
    The oracle replays the split, the rank selection, and the coverage
    join."""
    from knot_another_pipeline_spark.operators.evaluation import (
        conformal_threshold,
    )

    ev = load_table(spark, sf_dir, "events")
    return conformal_threshold(
        ev, group_col="event_type", score_col="value", id_col="event_id",
        alpha=0.1, cal_pct=50,
    )


ORACLE_CONFORMAL_THRESHOLD = """
WITH s AS (
  SELECT event_type AS grp, CAST(value AS DOUBLE) AS score,
         CAST(event_id AS VARCHAR) AS id,
         (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 100) < 50 AS cal
  FROM events WHERE value IS NOT NULL),
ranked AS (
  SELECT grp, score, id,
         row_number() OVER (PARTITION BY grp
                            ORDER BY score ASC, id ASC) AS rn
  FROM s WHERE cal),
nc AS (SELECT grp, count(*) AS n_cal FROM s WHERE cal GROUP BY 1),
th AS (
  SELECT r.grp, n.n_cal, r.score AS threshold
  FROM ranked r JOIN nc n ON r.grp = n.grp
  WHERE r.rn = least(CAST(ceil((n.n_cal + 1) * 0.9) AS BIGINT), n.n_cal))
SELECT th.grp AS group_key,
       CAST(th.n_cal AS BIGINT) AS n_cal,
       CAST(count(*) AS BIGINT) AS n_eval,
       round(th.threshold, 6) AS threshold,
       CAST(round(0.9, 6) AS DOUBLE) AS target,
       round(sum(CASE WHEN e.score <= th.threshold THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS coverage
FROM s e JOIN th ON e.grp = th.grp
WHERE NOT e.cal
GROUP BY th.grp, th.n_cal, th.threshold
"""


def _bt_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise outcomes for Bradley-Terry: consecutive events per user
    (ts then event_id order) are a "match" between their event types;
    the higher value wins. Equal values or equal types are no-contests."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type", "value",
        F.lag("event_type").over(w).alias("p_type"),
        F.lag("value").over(w).alias("p_value"),
    )
    return seq.filter(
        F.col("p_type").isNotNull()
        & F.col("value").isNotNull() & F.col("p_value").isNotNull()
        & (F.col("value") != F.col("p_value"))
        & (F.col("event_type") != F.col("p_type"))
    ).select(
        F.when(F.col("value") > F.col("p_value"), F.col("event_type"))
        .otherwise(F.col("p_type")).alias("winner"),
        F.when(F.col("value") > F.col("p_value"), F.col("p_type"))
        .otherwise(F.col("event_type")).alias("loser"),
    )


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strengths over event-type "matches" (operators/
    evaluation.py bradley_terry): two Zermelo/MM rounds from a uniform
    start, mean-1 renormalized each round. The oracle replays both
    rounds in CTEs over the same pair table."""
    from knot_another_pipeline_spark.operators.evaluation import bradley_terry

    m = _bt_matches(spark, sf_dir)
    return bradley_terry(
        m, winner_col="winner", loser_col="loser", iterations=2
    )


_BT_MATCHES_SQL = """
  SELECT CASE WHEN value > p_value THEN event_type ELSE p_type END AS winner,
         CASE WHEN value > p_value THEN p_type ELSE event_type END AS loser
  FROM (
    SELECT event_type, value,
           lag(event_type) OVER w AS p_type,
           lag(value) OVER w AS p_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
  WHERE p_type IS NOT NULL AND value IS NOT NULL AND p_value IS NOT NULL
    AND value != p_value AND event_type != p_type
"""


def _bt_round_sql(n: int, prev: str) -> str:
    return f""",
d{n} AS (
  SELECT nij.i AS item, sum(nij.n_ij / (si.s + sj.s)) AS denom
  FROM nij
  JOIN {prev} si ON si.item = nij.i
  JOIN {prev} sj ON sj.item = nij.j
  GROUP BY 1),
r{n} AS (
  SELECT it.item,
         CASE WHEN d.denom > 0 THEN it.n_wins / d.denom ELSE 0.0 END AS s
  FROM items it JOIN d{n} d ON d.item = it.item),
s{n} AS (SELECT item, s / (SELECT avg(s) FROM r{n}) AS s FROM r{n})"""


ORACLE_BRADLEY_TERRY = f"""
WITH m AS ({_BT_MATCHES_SQL}),
wins AS (SELECT winner AS w, loser AS l, count(*) AS n FROM m GROUP BY 1, 2),
pairs AS (
  SELECT i, j, sum(w_ij) AS w_ij FROM (
    SELECT w AS i, l AS j, n AS w_ij FROM wins
    UNION ALL
    SELECT l AS i, w AS j, 0 AS w_ij FROM wins)
  GROUP BY 1, 2),
nij AS (
  SELECT a.i, a.j, a.w_ij, a.w_ij + b.w_ij AS n_ij
  FROM pairs a JOIN pairs b ON a.i = b.j AND a.j = b.i),
items AS (
  SELECT i AS item, sum(n_ij) AS n_matches, sum(w_ij) AS n_wins
  FROM nij GROUP BY 1),
s0 AS (SELECT item, 1.0 AS s FROM items){_bt_round_sql(1, "s0")}{_bt_round_sql(2, "s1")}
SELECT it.item,
       CAST(it.n_matches AS BIGINT) AS n_matches,
       CAST(it.n_wins AS BIGINT) AS n_wins,
       round(s2.s, 6) AS strength,
       round(CASE WHEN it.n_matches > 0
                  THEN it.n_wins * 1.0 / it.n_matches END, 6) AS win_rate
FROM items it JOIN s2 ON s2.item = it.item
"""


def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency and class-balanced (Cui et al. 2019 effective
    number, beta=0.99) loss weights from the embedding label histogram
    (operators/features.py class_weights). One label aggregate plus
    broadcast totals."""
    from knot_another_pipeline_spark.operators.features import class_weights

    emb = load_table(spark, sf_dir, "embeddings")
    return class_weights(emb, label_col="label", beta=0.99)


ORACLE_CLASS_WEIGHTS = """
WITH c AS (
  SELECT label, count(*) AS n FROM embeddings
  WHERE label IS NOT NULL GROUP BY 1),
t AS (SELECT sum(n) AS total, count(*) AS classes FROM c),
e AS (
  SELECT label, n,
         (1 - pow(0.99, n)) / (1.0 - 0.99) AS eff
  FROM c),
es AS (SELECT sum(1.0 / eff) AS eff_sum FROM e)
SELECT e.label,
       CAST(e.n AS BIGINT) AS n,
       round(e.n * 1.0 / t.total, 6) AS frac,
       round(t.total * 1.0 / (t.classes * e.n), 6) AS inv_freq_weight,
       round((1.0 / e.eff) * t.classes / es.eff_sum, 6) AS eff_num_weight
FROM e CROSS JOIN t CROSS JOIN es
"""


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc boilerplate detection (operators/text_analysis.py
    boilerplate_segments): 2-token segments recurring in >= 5 distinct
    documents are template, per-doc ratio reported. Only md5 digests
    shuffle; two narrow-key aggregates."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        boilerplate_segments,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = boilerplate_segments(
        docs, id_col="doc_id", text_col="text",
        segment_tokens=2, min_docs=5,
    )
    return out.withColumnRenamed("doc", "doc_id")


ORACLE_BOILERPLATE_LINES = f"""
WITH toks AS ({_TOKS_SQL}),
base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
segs AS (
  SELECT doc_id, s.i AS seg_idx,
         md5(array_to_string(
           list_slice(t, CAST(s.i * 2 + 1 AS BIGINT),
                      CAST(s.i * 2 + 2 AS BIGINT)), ' ')) AS h
  FROM base, UNNEST(range(0, CAST(ceil(n / 2.0) AS BIGINT))) AS s(i)),
flagged AS (
  SELECT h FROM (
    SELECT h, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
  WHERE df >= 5),
bp AS (
  SELECT doc_id, count(*) AS n_boilerplate
  FROM segs JOIN flagged USING (h) GROUP BY 1),
tot AS (SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY 1)
SELECT t.doc_id,
       CAST(t.n_segments AS BIGINT) AS n_segments,
       CAST(coalesce(bp.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
       round(coalesce(bp.n_boilerplate, 0) * 1.0 / t.n_segments, 6)
         AS boilerplate_ratio
FROM tot t LEFT JOIN bp ON bp.doc_id = t.doc_id
"""


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc exact segment dedup with first-occurrence survivorship
    (operators/dedup.py segment_dedup; the Lee et al. 2021 move at
    segment granularity): one digest-key window, one per-doc
    aggregate."""
    from knot_another_pipeline_spark.operators.dedup import segment_dedup

    docs = load_table(spark, sf_dir, "documents")
    out = segment_dedup(
        docs, id_col="doc_id", text_col="text", segment_tokens=2
    )
    return out.withColumnRenamed("doc", "doc_id")


ORACLE_SEGMENT_DEDUP = f"""
WITH toks AS ({_TOKS_SQL}),
base AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
segs AS (
  SELECT doc_id, s.i AS seg_idx,
         md5(array_to_string(
           list_slice(t, CAST(s.i * 2 + 1 AS BIGINT),
                      CAST(s.i * 2 + 2 AS BIGINT)), ' ')) AS h
  FROM base, UNNEST(range(0, CAST(ceil(n / 2.0) AS BIGINT))) AS s(i)),
marked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY h
                            ORDER BY doc_id ASC, seg_idx ASC) = 1 AS keep
  FROM segs)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       round((count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END)) * 1.0
             / count(*), 6) AS removed_ratio
FROM marked GROUP BY doc_id
"""


def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise triage via neighborhood disagreement (operators/
    similarity.py knn_label_noise) over the exact top-10 cosine
    neighbors of every 5th vector: the expensive search is whatever
    index the corpus justifies (exact here); the operator itself is
    two broadcast label joins and one per-query aggregate."""
    from knot_another_pipeline_spark.operators.similarity import (
        knn_label_noise,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # arrow=True: only neighbor IDENTITY flows into the readout, and the
    # measured rank-boundary margins (>= 8.7e-6 on these fixtures) are
    # seven orders above matmul reassociation error — see cosine_topk.
    neigh = cosine_topk(
        emb.filter(F.col("vec_id") % 5 == 0), emb,
        id_col="vec_id", vec_col="embedding", k=10, arrow=True,
    )
    return knn_label_noise(
        neigh, emb, query_col="query_id", neighbor_col="neighbor_id",
        id_col="vec_id", label_col="label", suspect_threshold=0.5,
    )


ORACLE_KNN_LABEL_NOISE = """
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS n
      FROM e WHERE vec_id % 5 = 0),
c AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS n FROM e),
scored AS (
  SELECT q.vec_id AS query_id, q.label AS q_lab,
         c.vec_id AS neighbor_id, c.label AS n_lab,
         list_dot_product(q.v, c.v) / (q.n * c.n) AS cos_sim
  FROM q JOIN c ON q.vec_id != c.vec_id),
ranked AS (
  SELECT query_id, q_lab, n_lab,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
  FROM scored),
agg AS (
  SELECT query_id AS id, q_lab AS label,
         count(*) AS n_neighbors,
         sum(CASE WHEN n_lab != q_lab THEN 1 ELSE 0 END) AS n_disagree
  FROM ranked WHERE rn <= 10 AND q_lab IS NOT NULL AND n_lab IS NOT NULL
  GROUP BY 1, 2)
SELECT id, label,
       CAST(n_neighbors AS BIGINT) AS n_neighbors,
       CAST(n_disagree AS BIGINT) AS n_disagree,
       round(n_disagree * 1.0 / n_neighbors, 6) AS disagree_rate,
       (n_disagree * 1.0 / n_neighbors) >= 0.5 AS suspect
FROM agg
"""


def q_dim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (operators/similarity.py
    dim_truncation_error): cosine preservation at 8/16/32 of 64 dims
    over deterministic adjacent-id pairs; all row-local folds, one
    stacked aggregate."""
    from knot_another_pipeline_spark.operators.similarity import (
        dim_truncation_error,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("ida"), F.col("embedding").alias("va")
    )
    b = emb.select(
        (F.col("vec_id") - 1).alias("ida"), F.col("embedding").alias("vb")
    )
    pairs = a.join(b, "ida")
    return dim_truncation_error(
        pairs, vec_a_col="va", vec_b_col="vb", dims=[8, 16, 32]
    )


ORACLE_DIM_TRUNCATION = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT a.v AS va, b.v AS vb
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
    AND sqrt(list_dot_product(a.v, a.v)) > 0
    AND sqrt(list_dot_product(b.v, b.v)) > 0),
scored AS (
  SELECT list_dot_product(va, vb)
           / (sqrt(list_dot_product(va, va))
              * sqrt(list_dot_product(vb, vb))) AS full_cos,
         d.dim,
         CASE WHEN sqrt(list_dot_product(list_slice(va, 1, d.dim),
                                         list_slice(va, 1, d.dim))) > 0
               AND sqrt(list_dot_product(list_slice(vb, 1, d.dim),
                                         list_slice(vb, 1, d.dim))) > 0
              THEN list_dot_product(list_slice(va, 1, d.dim),
                                    list_slice(vb, 1, d.dim))
                   / (sqrt(list_dot_product(list_slice(va, 1, d.dim),
                                            list_slice(va, 1, d.dim)))
                      * sqrt(list_dot_product(list_slice(vb, 1, d.dim),
                                              list_slice(vb, 1, d.dim))))
         END AS t_cos
  FROM pairs, (SELECT unnest([8, 16, 32]) AS dim) d)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(abs(t_cos - full_cos)), 6) AS mean_abs_err,
       round(max(abs(t_cos - full_cos)), 6) AS max_abs_err,
       round(avg(full_cos), 6) AS mean_full_cos,
       round(avg(t_cos), 6) AS mean_trunc_cos
FROM scored GROUP BY dim
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-objective skyline over parts — largest size for the lowest
    price (operators/relational.py pareto_front): distinct-x aggregate
    + distributed exclusive prefix-max (the global_rank recipe), never
    the quadratic NOT-EXISTS self-join the oracle replays."""
    from knot_another_pipeline_spark.operators.relational import pareto_front

    part = load_table(spark, sf_dir, "part")
    out = pareto_front(
        part.select("p_partkey", "p_name", "p_size", "p_retailprice"),
        x_col="p_size",
        y_col="p_retailprice",
        maximize_x=True,
        maximize_y=False,
    )
    return out.orderBy("p_partkey")


ORACLE_PARETO_FRONT = """
SELECT p.p_partkey, p.p_name, p.p_size, p.p_retailprice
FROM part p
WHERE p.p_size IS NOT NULL AND p.p_retailprice IS NOT NULL
  AND NOT EXISTS (
    SELECT 1 FROM part q
    WHERE q.p_size IS NOT NULL AND q.p_retailprice IS NOT NULL
      AND q.p_size >= p.p_size AND q.p_retailprice <= p.p_retailprice
      AND (q.p_size > p.p_size OR q.p_retailprice < p.p_retailprice))
ORDER BY p.p_partkey
"""


def q_group_fairness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority fairness audit of a thresholded order scorer
    (operators/evaluation.py group_fairness): selection rate, TPR/FPR/
    precision and demographic-parity / equalized-odds gaps vs the
    overall rates — ONE conditional aggregate + a 1-row broadcast."""
    from knot_another_pipeline_spark.operators.evaluation import group_fairness

    ords = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        (F.col("o_orderstatus") == "F").cast("int").alias("is_f"),
    )
    out = group_fairness(
        ords,
        group_col="o_orderpriority",
        score_col="o_totalprice",
        label_col="is_f",
        threshold=250000.0,
    )
    return (
        out.withColumnRenamed("group", "grp")
        .withColumnRenamed("precision", "prec")
        .orderBy("grp")
    )


ORACLE_GROUP_FAIRNESS = """
WITH s AS (
  SELECT o_orderpriority AS grp,
         CAST(o_totalprice >= 250000.0 AS INT) AS p,
         CAST(o_orderstatus = 'F' AS INT) AS y
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    AND o_orderstatus IS NOT NULL),
g AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n,
         avg(y * 1.0) AS base_rate, avg(p * 1.0) AS pos_rate,
         sum(p * y) * 1.0 / nullif(sum(y), 0) AS tpr,
         sum(p * (1 - y)) * 1.0 / nullif(sum(1 - y), 0) AS fpr,
         sum(p * y) * 1.0 / nullif(sum(p), 0) AS prec
  FROM s GROUP BY 1),
o AS (
  SELECT avg(p * 1.0) AS o_pos,
         sum(p * y) * 1.0 / nullif(sum(y), 0) AS o_tpr,
         sum(p * (1 - y)) * 1.0 / nullif(sum(1 - y), 0) AS o_fpr
  FROM s)
SELECT g.grp, g.n,
       round(base_rate, 6) AS base_rate, round(pos_rate, 6) AS pos_rate,
       round(tpr, 6) AS tpr, round(fpr, 6) AS fpr, round(prec, 6) AS prec,
       round(pos_rate - o_pos, 6) AS dp_gap,
       round(tpr - o_tpr, 6) AS tpr_gap,
       round(fpr - o_fpr, 6) AS fpr_gap
FROM g CROSS JOIN o ORDER BY g.grp
"""


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience-accumulation curve (operators/behavior.py
    cumulative_users): first-seen day per user → new-user counts →
    running total over the DAY table, so the only global window is
    bounded by distinct days, never event rows."""
    from knot_another_pipeline_spark.operators.behavior import cumulative_users

    ev = load_table(spark, sf_dir, "events")
    return cumulative_users(ev, ts_col="ts", user_col="user_id")


ORACLE_CUMULATIVE_USERS = """
WITH f AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS day
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
  GROUP BY 1),
d AS (SELECT day, count(*) AS n_new FROM f GROUP BY 1)
SELECT day, CAST(n_new AS BIGINT) AS n_new,
       CAST(sum(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS cum_users
FROM d ORDER BY day
"""


def q_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reduction ratio + pairs completeness of market-segment blocking
    for the customer-name matcher (operators/dedup.py blocking_quality):
    candidate count from ONE block-key aggregate (pairs never formed),
    truth from the exact-recall FastSS deletion join."""
    from knot_another_pipeline_spark.operators.dedup import blocking_quality

    cust = load_table(spark, sf_dir, "customer")
    return blocking_quality(
        cust,
        id_col="c_custkey",
        text_col="c_name",
        block_cols=["c_mktsegment"],
        max_distance=1,
    )


ORACLE_BLOCKING_QUALITY = """
WITH r AS (
  SELECT c_custkey AS id, c_name AS txt, c_mktsegment AS b
  FROM customer
  WHERE c_custkey IS NOT NULL AND c_name IS NOT NULL
    AND c_mktsegment IS NOT NULL),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM r),
cand AS (
  SELECT CAST(coalesce(sum(c * (c - 1) / 2), 0) AS BIGINT)
         AS n_candidate_pairs
  FROM (SELECT count(*) AS c FROM r GROUP BY b)),
truth AS (
  SELECT a.b AS ba, b.b AS bb
  FROM r a JOIN r b
    ON a.id < b.id AND levenshtein(a.txt, b.txt) <= 1),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs,
         CAST(coalesce(sum(CASE WHEN ba = bb THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_truth_blocked
  FROM truth)
SELECT n.n_rows, cand.n_candidate_pairs, t.n_truth_pairs,
       t.n_truth_blocked,
       round(CASE WHEN n_rows >= 2 THEN
         1.0 - n_candidate_pairs / (n_rows * (n_rows - 1) / 2.0)
       END, 6) AS reduction_ratio,
       round(n_truth_blocked * 1.0 / nullif(n_truth_pairs, 0), 6)
         AS pairs_completeness
FROM n CROSS JOIN cand CROSS JOIN t
"""


def q_shard_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resharding movement cost 8 -> 9 shards under mod-hash vs
    rendezvous/HRW hashing (operators/sampling.py shard_moves):
    row-local hash-array argmax, one 1-row aggregate per scheme."""
    from knot_another_pipeline_spark.operators.sampling import shard_moves

    orders = load_table(spark, sf_dir, "orders")
    return shard_moves(
        orders, key_col="o_orderkey", n_from=8, n_to=9
    ).orderBy("scheme")


ORACLE_SHARD_MOVES = """
WITH k AS (
  SELECT o_orderkey AS key FROM orders WHERE o_orderkey IS NOT NULL),
mh AS (
  SELECT key,
         CAST(concat('0x', substr(md5(concat('0:', CAST(key AS VARCHAR))),
                                  1, 15)) AS BIGINT) AS h
  FROM k),
modm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(coalesce(sum(CASE WHEN h % 8 <> h % 9 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_moved
  FROM mh),
rv AS (
  SELECT key, s,
         substr(md5(concat(CAST(s AS VARCHAR), ':',
                           CAST(key AS VARCHAR))), 1, 15) AS w
  FROM k, unnest(generate_series(0, 8)) AS t(s)),
own AS (
  SELECT key,
         arg_max(s, w) FILTER (WHERE s < 8) AS o_from,
         arg_max(s, w) AS o_to
  FROM rv GROUP BY key),
rvm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(coalesce(sum(CASE WHEN o_from <> o_to THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS n_moved
  FROM own)
SELECT 'mod' AS scheme, n_keys, n_moved,
       round(n_moved * 1.0 / nullif(n_keys, 0), 6) AS moved_frac
FROM modm
UNION ALL
SELECT 'rendezvous', n_keys, n_moved,
       round(n_moved * 1.0 / nullif(n_keys, 0), 6)
FROM rvm
ORDER BY scheme
"""


# --------------------------------------------------------------------------
# round-8 additions (1/2): TPC-H-derived relational plan shapes the catalog
# lacked — correlated EXISTS / NOT EXISTS, outer-join-then-distribution,
# decorrelated scalar subqueries, HAVING-IN, disjunctive pushdown.


def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS semi-join (operators/relational.py
    order_priority_counts): orders with at least one line shipped
    >365 days after order date, counted per priority — the correlated
    EXISTS decorrelates into one LEFT SEMI join with a compound
    (equi + theta) condition."""
    return relational.order_priority_counts(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        late_days=365,
    )


ORACLE_ORDER_PRIORITY = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_late_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 365 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped outer-join distribution (operators/relational.py
    customer_order_distribution): customers per exact order count,
    including the zero-order bucket only an outer join can see."""
    return relational.customer_order_distribution(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


ORACLE_CUSTOMER_DISTRIBUTION = """
WITH per_cust AS (
  SELECT c_custkey,
         (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS c_count
  FROM customer)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shaped correlated scalar subquery
    (operators/relational.py small_quantity_revenue): revenue from
    below-one-fifth-of-part-average quantity lines of one brand's
    small parts, decorrelated into a per-part average joined back."""
    return relational.small_quantity_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        brand="Brand#12",
        max_size=10,
    )


ORACLE_SMALL_QTY_REVENUE = """
WITH keys AS (
  SELECT p_partkey FROM part
  WHERE p_brand = 'Brand#12' AND p_size <= 10),
lines AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN keys ON l_partkey = p_partkey),
a AS (
  SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
  FROM lines GROUP BY 1)
SELECT round(coalesce(sum(l_extendedprice), 0.0) / 7.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lines JOIN a ON l_partkey = pk
WHERE l_quantity < 0.2 * avg_qty
"""


def q_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped HAVING-IN subquery (operators/relational.py
    big_order_customers): customers holding orders totalling >250
    units; the qualifying-order set comes from one aggregate and
    broadcasts into both fact joins."""
    return relational.big_order_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        min_qty=250.0,
    )


ORACLE_BIG_ORDER_CUSTOMERS = """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 250.0)
SELECT c_custkey, c_name, o_orderkey,
       round(o_totalprice, 2) AS o_totalprice,
       round(total_qty, 2) AS total_qty
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive join (operators/relational.py
    disjunctive_revenue): revenue over an OR of three
    (brand, size, quantity) conjunctions — the union of the part-side
    disjuncts prefilters the dimension before broadcast."""
    return relational.disjunctive_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


ORACLE_DISJUNCTIVE_REVENUE = """
SELECT round(coalesce(sum(l_extendedprice * (1 - l_discount)), 0.0), 2)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#21' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped double-correlated EXISTS / NOT EXISTS
    (operators/relational.py waiting_suppliers): the only-late-supplier
    readout, decorrelated into one per-order distinct aggregate instead
    of two extra self-joins of lineitem.  The oracle runs the CLASSIC
    two-subquery formulation, so the hash match proves the
    decorrelation equivalent."""
    return relational.waiting_suppliers(
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        late_days=365,
    )


ORACLE_WAITING_SUPPLIERS = """
SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.l_shipdate > o_orderdate + INTERVAL 365 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 365 DAY)
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 100
"""


def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped anti-join + global scalar subquery
    (operators/relational.py idle_customers): above-average-balance
    customers with no order since 2001-01-01, summarized per nation."""
    return relational.idle_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        since="2001-01-01",
    )


ORACLE_IDLE_CUSTOMERS = """
SELECT CAST(c_nationkey AS INT) AS c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# --------------------------------------------------------------------------
# round-9 additions: the five remaining classic TPC-H plan shapes (Q2,
# Q11, Q15, Q16, Q20), adapted to this schema's lineitem-as-partsupp
# (there is no partsupp table).  Every oracle runs the textbook
# CORRELATED formulation, so a green hash row proves the decorrelation.


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shaped correlated-min (operators/relational.py
    min_cost_supplier): per qualifying part, the EUROPE supplier(s) at
    the minimum unit cost, decorrelated into one cost aggregate + a
    per-part min joined back on (part, cost)."""
    return relational.min_cost_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "part"),
        region_name="EUROPE",
        part_type="STANDARD",
        max_size=15,
    )


ORACLE_MIN_COST_SUPPLIER = """
WITH cost AS (
  SELECT l_partkey, l_suppkey, s_name, n_name,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE' AND l_quantity > 0
  GROUP BY 1, 2, 3, 4)
SELECT p_partkey, p_name, CAST(p_size AS INT) AS p_size,
       c.l_suppkey AS s_suppkey, c.s_name, c.n_name,
       round(c.unit_cost, 4) AS unit_cost
FROM cost c JOIN part ON c.l_partkey = p_partkey
WHERE p_type = 'STANDARD' AND p_size <= 15
  AND c.unit_cost = (
    SELECT min(c2.unit_cost) FROM cost c2
    WHERE c2.l_partkey = c.l_partkey)
ORDER BY p_partkey, s_suppkey
"""


def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-shaped HAVING-vs-global-scalar (operators/relational.py
    important_stock): parts whose shipped value from NATION_3's
    suppliers exceeds 0.2% of that nation's total, the grouped
    aggregate reused for its own grand total."""
    return relational.important_stock(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        nation_name="NATION_3",
        fraction=0.002,
    )


ORACLE_IMPORTANT_STOCK = """
SELECT l_partkey, round(sum(l_extendedprice), 2) AS value
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
GROUP BY l_partkey
HAVING sum(l_extendedprice) > 0.002 * (
  SELECT sum(l_extendedprice)
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_3')
ORDER BY value DESC, l_partkey ASC
"""


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shaped argmax-vs-scalar-max (operators/relational.py
    top_supplier_revenue): 1996-Q1 revenue view built once, its 1-row
    max broadcast back — ties all surface."""
    return relational.top_supplier_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        period_start="1996-01-01",
        period_end="1996-04-01",
    )


ORACLE_TOP_SUPPLIER_REVENUE = """
WITH revenue AS (
  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-shaped NOT-IN + distinct-count (operators/relational.py
    supplier_part_variety): distinct shippable suppliers per (brand,
    type, size), negative-balance suppliers excluded, two plain hash
    aggregates instead of a distinct-aggregate Expand."""
    return relational.supplier_part_variety(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        brand_not="Brand#1",
        sizes=(1, 5, 9, 13, 17, 21, 25, 29),
    )


ORACLE_SUPPLIER_PART_VARIETY = """
SELECT p_brand, p_type, CAST(p_size AS INT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""


def q_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-shaped correlated half-sum (operators/relational.py
    dominant_part_suppliers): suppliers shipping more than 20% of a
    'b…' part's total quantity, the correlated sum decorrelated into
    the pair aggregate reused for its own per-part totals."""
    return relational.dominant_part_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "part"),
        name_prefix="b",
        share=0.2,
    )


ORACLE_DOMINANT_PART_SUPPLIERS = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, p_name, sum(l_quantity) AS supp_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'b%'
  GROUP BY 1, 2, 3)
SELECT ps.l_partkey AS p_partkey, ps.p_name,
       ps.l_suppkey AS s_suppkey, s_name,
       round(ps.supp_qty, 2) AS supp_qty,
       round((SELECT sum(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = ps.l_partkey), 2) AS part_qty,
       round(ps.supp_qty / (SELECT sum(l3.l_quantity) FROM lineitem l3
                            WHERE l3.l_partkey = ps.l_partkey), 6)
         AS qty_share
FROM ps JOIN supplier ON ps.l_suppkey = s_suppkey
WHERE ps.supp_qty > 0.2 * (
  SELECT sum(l4.l_quantity) FROM lineitem l4
  WHERE l4.l_partkey = ps.l_partkey)
ORDER BY p_partkey, s_suppkey
"""


def q_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-constrained ordered funnel (operators/behavior.py
    window_funnel, ClickHouse windowFunnel semantics): per-user longest
    signup→view→purchase chain fitting in 24h of its first event,
    reduced to a level histogram. The oracle replays the existence
    semantics with correlated chain joins, so the hash match proves the
    single-pass max-start DP equals the exhaustive search."""
    from knot_another_pipeline_spark.operators.behavior import window_funnel

    events = load_table(spark, sf_dir, "events")
    levels = window_funnel(
        events,
        ["signup", "view", "purchase"],
        user_col="user_id",
        type_col="event_type",
        ts_col="ts",
        window_seconds=86_400,
    )
    return (
        levels.groupBy("funnel_level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy("funnel_level")
    )


ORACLE_WINDOW_FUNNEL = """
WITH e AS (
  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t
  FROM events WHERE event_type IN ('signup', 'view', 'purchase')),
u AS (SELECT DISTINCT user_id FROM e),
l1 AS (SELECT DISTINCT user_id FROM e WHERE event_type = 'signup'),
l2 AS (
  SELECT DISTINCT a.user_id
  FROM e a JOIN e b ON a.user_id = b.user_id
  WHERE a.event_type = 'signup' AND b.event_type = 'view'
    AND b.t >= a.t AND b.t <= a.t + 86400),
l3 AS (
  SELECT DISTINCT a.user_id
  FROM e a
  JOIN e b ON a.user_id = b.user_id
  JOIN e c ON a.user_id = c.user_id
  WHERE a.event_type = 'signup' AND b.event_type = 'view'
    AND c.event_type = 'purchase'
    AND b.t >= a.t AND c.t >= b.t AND c.t <= a.t + 86400
    AND b.t <= a.t + 86400),
lvl AS (
  SELECT u.user_id,
         CASE WHEN u.user_id IN (SELECT user_id FROM l3) THEN 3
              WHEN u.user_id IN (SELECT user_id FROM l2) THEN 2
              WHEN u.user_id IN (SELECT user_id FROM l1) THEN 1
              ELSE 0 END AS funnel_level
  FROM u)
SELECT CAST(funnel_level AS INT) AS funnel_level,
       CAST(count(*) AS BIGINT) AS n_users
FROM lvl GROUP BY 1 ORDER BY 1
"""


def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR-AUC as average precision per weekday (operators/evaluation.py
    average_precision): the imbalanced-label companion to auc_scores,
    over the same synthetic purchase scorer, ties broken by event_id so
    the ranking is total and oracle-replayable."""
    from knot_another_pipeline_spark.operators.evaluation import (
        average_precision,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = events.select(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).cast("int").alias("wd"),
        (F.col("value") / 491.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        "event_id",
    )
    return average_precision(
        s,
        group_cols=["wd"],
        score_col="score",
        label_col="y",
        id_col="event_id",
    ).orderBy("wd")


ORACLE_AVERAGE_PRECISION = """
WITH s AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS INT) AS wd,
         CAST(value AS DOUBLE) / 491.0 AS sc,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
         event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
r AS (
  SELECT wd, y,
         row_number() OVER (PARTITION BY wd ORDER BY sc DESC, event_id ASC)
           AS k,
         sum(y) OVER (PARTITION BY wd ORDER BY sc DESC, event_id ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS tp
  FROM s)
SELECT wd, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       round(CASE WHEN sum(y) > 0
                  THEN sum(CASE WHEN y = 1 THEN tp * 1.0 / k END) / sum(y)
             END, 6) AS avg_precision
FROM r GROUP BY wd ORDER BY wd
"""


def q_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leak audit (operators/dedup.py split_contamination):
    the MinHash near-dup pair list joined with the stable-hash split
    assignment on both sides — off-diagonal cells are near-duplicates
    crossing split boundaries (memorization fuel that per-split dedup
    never sees)."""
    from knot_another_pipeline_spark.operators.dedup import (
        split_contamination,
    )
    from knot_another_pipeline_spark.operators.sampling import split_by_hash

    docs = load_table(spark, sf_dir, "documents")
    pairs = q_minhash_pairs(spark, sf_dir).select("id_a", "id_b")
    splits = split_by_hash(
        docs, id_col="doc_id", weights={"train": 90, "val": 5, "test": 5}
    ).select("doc_id", "split")
    return split_contamination(
        pairs, splits, id_col="doc_id", split_col="split"
    )


ORACLE_SPLIT_CONTAMINATION = f"""
WITH mp AS ({ORACLE_MINHASH_PAIRS}),
sa AS ({ORACLE_SPLIT_ASSIGN})
SELECT least(x.split, y.split) AS split_a,
       greatest(x.split, y.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM mp
JOIN sa x ON mp.id_a = x.doc_id
JOIN sa y ON mp.id_b = y.doc_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --------------------------------------------------------------------------
# round-8 additions (2/2): nonparametric tests, rank association, cluster
# validity, regression/probabilistic-forecast scorecards, and the three
# AIS-flavored trajectory readouts (gaps, OD flows, sinuosity).


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-weekday Mann-Whitney U between purchase and click values
    (operators/quality.py mann_whitney): exact midranks, tie-corrected
    normal approximation, one shared group shuffle."""
    from knot_another_pipeline_spark.operators.quality import mann_whitney

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isin("purchase", "click")
    )
    s = events.select(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).cast("int").alias("wd"),
        F.col("value").alias("v"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return mann_whitney(
        s, group_cols=["wd"], value_col="v", class_col="y"
    ).orderBy("wd")


ORACLE_MANN_WHITNEY = """
WITH s AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS INT) AS wd,
         CAST(value AS DOUBLE) AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
    AND event_type IN ('purchase', 'click')),
r AS (
  SELECT wd, v, y,
         rank() OVER (PARTITION BY wd ORDER BY v ASC)
         + (count(*) OVER (PARTITION BY wd, v) - 1) / 2.0 AS mr
  FROM s),
ties AS (
  SELECT wd, sum(t * t * t - t) AS tie3
  FROM (SELECT wd, v, CAST(count(*) AS DOUBLE) AS t FROM s GROUP BY 1, 2)
  GROUP BY 1),
a AS (
  SELECT wd,
         CAST(sum(y) AS BIGINT) AS n1,
         CAST(sum(1 - y) AS BIGINT) AS n0,
         sum(CASE WHEN y = 1 THEN mr END) AS r1
  FROM r GROUP BY 1)
SELECT a.wd, n1, n0,
       round(r1 - n1 * (n1 + 1) / 2.0, 6) AS u,
       round(CASE WHEN n1 > 0 AND n0 > 0
                   AND n1 * n0 / 12.0 * ((n1 + n0 + 1)
                       - tie3 / ((n1 + n0) * (n1 + n0 - 1.0))) > 0
             THEN (r1 - n1 * (n1 + 1) / 2.0 - n1 * n0 / 2.0)
                  / sqrt(n1 * n0 / 12.0 * ((n1 + n0 + 1)
                         - tie3 / ((n1 + n0) * (n1 + n0 - 1.0))))
             END, 6) AS z
FROM a JOIN ties ON a.wd = ties.wd
ORDER BY a.wd
"""


def q_kendall_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between hour-of-day activity profiles of every
    event-type pair (operators/quality.py kendall_tau): the raw stream
    compresses to a 24-point profile per type BEFORE any pairing, so
    the quadratic pair join only ever sees bounded profiles."""
    from knot_another_pipeline_spark.operators.quality import kendall_tau

    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
    )
    hp = events.groupBy(
        F.col("event_type").alias("et"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    a, b = hp.alias("a"), hp.alias("b")
    prof = a.join(
        b,
        (F.col("a.hr") == F.col("b.hr")) & (F.col("a.et") < F.col("b.et")),
    ).select(
        F.col("a.et").alias("type_a"),
        F.col("b.et").alias("type_b"),
        F.col("a.c").alias("x"),
        F.col("b.c").alias("y"),
    )
    return kendall_tau(
        prof, group_cols=["type_a", "type_b"], x_col="x", y_col="y"
    ).orderBy("type_a", "type_b")


ORACLE_KENDALL_PROFILES = """
WITH hp AS (
  SELECT event_type AS et, CAST(hour(ts) AS INT) AS hr,
         CAST(count(*) AS DOUBLE) AS c
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
p AS (
  SELECT a.et AS type_a, b.et AS type_b, a.hr AS hr, a.c AS x, b.c AS y
  FROM hp a JOIN hp b ON a.hr = b.hr AND a.et < b.et),
pr AS (
  SELECT u.type_a, u.type_b,
         sign(v.x - u.x) AS dx, sign(v.y - u.y) AS dy
  FROM p u JOIN p v
    ON u.type_a = v.type_a AND u.type_b = v.type_b AND u.hr < v.hr),
ag AS (
  SELECT type_a, type_b,
         CAST(count(*) AS DOUBLE) AS n0,
         CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS c,
         CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS DOUBLE) AS d,
         CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS tx,
         CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS ty
  FROM pr GROUP BY 1, 2),
n AS (
  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n
  FROM p GROUP BY 1, 2)
SELECT n.type_a, n.type_b, n.n,
       round(CASE WHEN (n0 - tx) * (n0 - ty) > 0
             THEN (c - d) / sqrt((n0 - tx) * (n0 - ty)) END, 6) AS tau
FROM n JOIN ag ON n.type_a = ag.type_a AND n.type_b = ag.type_b
ORDER BY n.type_a, n.type_b
"""


def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per embedding label
    (operators/similarity.py silhouette_score): k x d centroids
    broadcast into position-joined exploded vectors, N x k shuffle,
    one k-row aggregate."""
    from knot_another_pipeline_spark.operators.similarity import (
        silhouette_score,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return silhouette_score(
        emb, id_col="vec_id", vec_col="embedding", label_col="label"
    )


ORACLE_SILHOUETTE = """
WITH flat AS (
  SELECT vec_id AS id, label,
         generate_subscripts(embedding, 1) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings),
cent AS (
  SELECT label AS cand, pos, avg(v) AS c FROM flat GROUP BY 1, 2),
dist AS (
  SELECT f.id, f.label, cent.cand,
         sqrt(sum((f.v - cent.c) * (f.v - cent.c))) AS d
  FROM flat f JOIN cent ON f.pos = cent.pos
  GROUP BY 1, 2, 3),
pv AS (
  SELECT id, label,
         min(CASE WHEN cand = label THEN d END) AS a,
         min(CASE WHEN cand <> label THEN d END) AS b
  FROM dist GROUP BY 1, 2),
s AS (
  SELECT label,
         CASE WHEN b IS NOT NULL AND greatest(a, b) > 0
              THEN (b - a) / greatest(a, b)
              WHEN b IS NOT NULL THEN 0.0 END AS s
  FROM pv)
SELECT label, CAST(count(*) AS BIGINT) AS n,
       round(avg(s), 6) AS avg_silhouette
FROM s GROUP BY label ORDER BY label
"""


def q_regression_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type regression scorecard of the hour-of-day mean
    predictor against observed values (operators/evaluation.py
    regression_report): one broadcast of the 24-row predictor, one
    hash aggregate for every metric."""
    from knot_another_pipeline_spark.operators.evaluation import (
        regression_report,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    ev = events.select(
        "event_type", F.hour("ts").cast("int").alias("hr"), "value"
    )
    hm = ev.groupBy("hr").agg(F.avg("value").alias("pred"))
    s = ev.join(F.broadcast(hm), "hr")
    return regression_report(
        s, group_cols=["event_type"], pred_col="pred", truth_col="value"
    ).orderBy("event_type")


ORACLE_REGRESSION_REPORT = """
WITH ev AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hr, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
hm AS (SELECT hr, avg(v) AS p FROM ev GROUP BY 1),
s AS (SELECT event_type, p, v FROM ev JOIN hm ON ev.hr = hm.hr),
a AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         avg((p - v) * (p - v)) AS mse,
         avg(abs(p - v)) AS mae,
         avg(p - v) AS bias,
         var_pop(v) AS vt,
         avg(CASE WHEN v <> 0 THEN abs(p - v) / abs(v) END) AS mape
  FROM s GROUP BY 1)
SELECT event_type, n,
       round(sqrt(mse), 6) AS rmse,
       round(mae, 6) AS mae,
       round(bias, 6) AS bias,
       round(CASE WHEN vt > 0 THEN 1 - mse / vt END, 6) AS r2,
       round(mape, 6) AS mape
FROM a ORDER BY event_type
"""


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the synthetic purchase scorer's Brier
    score (operators/evaluation.py brier_decomposition): one row-level
    and one 10-bin aggregate combined by 1-row broadcasts."""
    from knot_another_pipeline_spark.operators.evaluation import (
        brier_decomposition,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = events.select(
        (F.col("value") / 491.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return brier_decomposition(s, score_col="score", label_col="y", bins=10)


ORACLE_BRIER_DECOMPOSITION = """
WITH s AS (
  SELECT CAST(value AS DOUBLE) / 491.0 AS p,
         CAST(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
              AS DOUBLE) AS o
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
    AND value / 491.0 BETWEEN 0.0 AND 1.0),
b AS (
  SELECT p, o,
         CAST(least(floor(p * 10), 9) AS INT) AS bin
  FROM s),
per_bin AS (
  SELECT bin, CAST(count(*) AS DOUBLE) AS nb, avg(p) AS pb, avg(o) AS ob
  FROM b GROUP BY 1),
overall AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         avg((p - o) * (p - o)) AS brier,
         avg(o) AS obar
  FROM b),
parts AS (
  SELECT sum(nb * (pb - ob) * (pb - ob)) AS rel_w,
         sum(nb * (ob - obar) * (ob - obar)) AS res_w
  FROM per_bin, overall)
SELECT n,
       round(brier, 6) AS brier,
       round(rel_w / n, 6) AS reliability,
       round(res_w / n, 6) AS resolution,
       round(obar * (1 - obar), 6) AS uncertainty,
       round(brier - (rel_w / n - res_w / n + obar * (1 - obar)), 6)
         AS residual
FROM overall, parts
"""


def q_signal_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reporting gaps longer than 24 h per user (operators/tracks.py
    signal_gaps): one lag window on the entity key, row-local duration
    compare — the AIS dark-period screen."""
    from knot_another_pipeline_spark.operators.tracks import signal_gaps

    events = load_table(spark, sf_dir, "events")
    return signal_gaps(
        events, entity_col="user_id", ts_col="ts", min_gap_hours=24.0
    )


ORACLE_SIGNAL_GAPS = """
WITH g AS (
  SELECT user_id AS entity,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) AS gap_start,
         ts AS gap_end
  FROM events WHERE ts IS NOT NULL)
SELECT entity, gap_start, gap_end,
       round((epoch_us(gap_end) - epoch_us(gap_start)) / 3600000000.0, 3)
         AS gap_hours
FROM g
WHERE gap_start IS NOT NULL
  AND (epoch_us(gap_end) - epoch_us(gap_start)) / 3600000000.0 > 24.0
ORDER BY entity, gap_start
"""


def q_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix over 10-degree zones
    (operators/tracks.py od_matrix): one (entity, day) window for the
    first/last fix, one small flow aggregate."""
    from knot_another_pipeline_spark.operators.tracks import od_matrix

    pos = _positions(spark, sf_dir)
    return od_matrix(
        pos,
        entity_col="uid",
        ts_col="ts",
        lat_col="lat",
        lon_col="lon",
        cell_deg=10.0,
        tiebreak_col="event_id",
    )


ORACLE_OD_MATRIX = f"""
WITH pos AS ({_POSITIONS_SQL}),
z AS (
  SELECT uid, ts, event_id, CAST(ts AS DATE) AS day,
         concat(CAST(CAST(floor(lat / 10.0) AS BIGINT) AS VARCHAR), ':',
                CAST(CAST(floor(lon / 10.0) AS BIGINT) AS VARCHAR)) AS zone
  FROM pos),
rn AS (
  SELECT uid, day, zone,
         row_number() OVER (PARTITION BY uid, day
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         row_number() OVER (PARTITION BY uid, day
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM z),
tr AS (
  SELECT uid, day,
         max(CASE WHEN rn_a = 1 THEN zone END) AS origin_zone,
         max(CASE WHEN rn_d = 1 THEN zone END) AS dest_zone
  FROM rn GROUP BY 1, 2)
SELECT origin_zone, dest_zone,
       CAST(count(*) AS BIGINT) AS n_trips,
       CAST(count(DISTINCT uid) AS BIGINT) AS n_entities
FROM tr GROUP BY 1, 2
ORDER BY n_trips DESC, origin_zone ASC, dest_zone ASC
"""


def q_track_sinuosity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-over-displacement sinuosity per entity track
    (operators/tracks.py track_sinuosity): the module's shared single
    entity-key window (lag segments + first/last endpoints), one
    aggregate."""
    from knot_another_pipeline_spark.operators.tracks import track_sinuosity

    pos = _positions(spark, sf_dir)
    return track_sinuosity(
        pos,
        entity_col="uid",
        ts_col="ts",
        lat_col="lat",
        lon_col="lon",
        tiebreak_col="event_id",
        min_direct_km=1.0,
    )


ORACLE_TRACK_SINUOSITY = f"""
WITH pos AS ({_POSITIONS_SQL}),
seg AS (
  SELECT uid, ts, event_id, lat, lon,
         lag(lat) OVER w AS plat,
         lag(lon) OVER w AS plon,
         row_number() OVER w AS rn_a,
         row_number() OVER (PARTITION BY uid
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM pos
  WINDOW w AS (PARTITION BY uid ORDER BY ts ASC, event_id ASC)),
km AS (
  SELECT uid,
         CASE WHEN plat IS NOT NULL
              THEN 2 * 6371000.0 * asin(sqrt(
                     pow(sin(radians(lat - plat) / 2), 2)
                     + cos(radians(plat)) * cos(radians(lat))
                       * pow(sin(radians(lon - plon) / 2), 2))) / 1000.0
         END AS seg_km,
         CASE WHEN rn_a = 1 THEN lat END AS lat0,
         CASE WHEN rn_a = 1 THEN lon END AS lon0,
         CASE WHEN rn_d = 1 THEN lat END AS lat1,
         CASE WHEN rn_d = 1 THEN lon END AS lon1
  FROM seg),
a AS (
  SELECT uid,
         CAST(count(*) AS BIGINT) AS n_fixes,
         coalesce(sum(seg_km), 0.0) AS path_km,
         2 * 6371000.0 * asin(sqrt(
             pow(sin(radians(max(lat1) - max(lat0)) / 2), 2)
             + cos(radians(max(lat0))) * cos(radians(max(lat1)))
               * pow(sin(radians(max(lon1) - max(lon0)) / 2), 2))) / 1000.0
           AS direct_km
  FROM km GROUP BY uid)
SELECT uid AS entity, n_fixes,
       round(path_km, 3) AS path_km,
       round(direct_km, 3) AS direct_km,
       round(CASE WHEN direct_km >= 1.0 THEN path_km / direct_km END, 3)
         AS sinuosity
FROM a
"""


# --------------------------------------------------------------------------
# round-9 additions, second block: the last four classic TPC-H plan
# shapes (Q3, Q7, Q8, Q9).  With these, every TPC-H query this schema
# can express has a catalog shape (Q12/Q14's commit/receipt/shipmode
# and promo-share columns don't exist in the dataset; Q6's plain
# filter-agg is subsumed by pricing_summary/disjunctive_revenue, and
# Q10's returned-revenue top-k by top_customers + order_priority).
# Every oracle runs the textbook flat formulation, so a green hash row
# proves the staged Spark plan.


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped top-k (operators/relational.py
    shipping_priority): the 10 highest-open-revenue BUILDING-segment
    orders placed before 1998-06-15 with a line shipping after it;
    one orderkey exchange, agg reuses its partitioning,
    TakeOrderedAndProject top-k."""
    return relational.shipping_priority(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        segment="BUILDING",
        cutoff="1998-06-15",
        k=10,
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""


def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped two-nation trade volume (operators/relational.py
    nation_trade_volume): NATION_1↔NATION_2 shipped revenue by
    direction and ship year, both nation restrictions pushed below
    the orderkey join."""
    return relational.nation_trade_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        nation_a="NATION_1",
        nation_b="NATION_2",
        start="1997-01-01",
        end="1998-12-31",
    )


ORACLE_NATION_TRADE_VOLUME = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(volume), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey
    AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                       AND TIMESTAMP '1998-12-31 00:00:00'
) shipping
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped market share (operators/relational.py
    market_share): NATION_1's share of ECONOMY-part revenue sold into
    AMERICA per order year — numerator and denominator from ONE
    conditional aggregate over one fact pass."""
    return relational.market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "part"),
        region_name="AMERICA",
        supp_nation="NATION_1",
        part_type="ECONOMY",
        start="1997-01-01",
        end="1998-12-31",
    )


ORACLE_MARKET_SHARE = """
SELECT o_year,
       round(sum(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END)
             / sum(volume), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer,
       nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
                        AND TIMESTAMP '1998-12-31 00:00:00'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shaped product profit (operators/relational.py
    product_profit): profit on parts named *red* per supplier nation
    and order year, supply cost modeled as 0.6 × p_retailprice per
    unit; the part prune lands before the orderkey exchange."""
    return relational.product_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "part"),
        name_token="red",
        cost_factor=0.6,
    )


ORACLE_PRODUCT_PROFIT = """
SELECT nation, o_year, round(sum(amount), 2) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount)
           - 0.6 * p_retailprice * l_quantity AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation ASC, o_year DESC
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (operators/quality.py heavy_hitters):
    Misra-Gries per-partition prune (iterator mapInPandas, mergeable-
    summaries batch rule) + broadcast-semi-join exact recount, integer
    support threshold cnt*400 >= N.  The plain GROUP BY oracle hashing
    identically is the proof the sketch prune lost no true hitter."""
    from knot_another_pipeline_spark.operators.quality import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("tok")
    )
    return heavy_hitters(toks, item_col="tok", support_num=1, support_den=400)


ORACLE_HEAVY_HITTERS = rf"""
WITH toks AS ({_TOKS_SQL}),
flat AS (SELECT unnest(t) AS tok FROM toks),
tot AS (SELECT count(*) AS n FROM flat)
SELECT tok AS item,
       CAST(count(*) AS BIGINT) AS cnt,
       round(count(*) * 1.0 / (SELECT n FROM tot), 6) AS share
FROM flat
GROUP BY tok
HAVING count(*) * 400 >= (SELECT n FROM tot)
ORDER BY cnt DESC, item ASC
"""


def _walk_edges(li: DataFrame) -> DataFrame:
    """Bipartite order<->part co-occurrence edges, both directions (the
    pagerank graph) - every node has outdeg >= 1 by construction."""
    fwd = li.select(
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _walk_edges_bip(li: DataFrame) -> DataFrame:
    """BIGINT-encoded ``_walk_edges`` (even=order, odd=part, both
    directions): the frontier queries shuffle the narrow key through
    every hop and decode to the ``o:``/``p:`` strings only in the final
    projection (guide §2.3; same relabeling as the pagerank family —
    counts are bit-identical because the encoding is 1:1)."""
    fwd = li.select(
        _bip_even(F.col("l_orderkey")).alias("src"),
        _bip_odd(F.col("l_partkey")).alias("dst"),
    )
    return fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def q_deterministic_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-seeded random-walk corpus (operators/graph.py
    deterministic_walks) over the order<->part graph: 2 walks x 3 steps
    from every 97th part node, each step picking the neighbor ranked
    hash64(walk|step|node) mod outdeg.  The oracle unrolls the three
    steps with the identical md5 arithmetic, so the hash match proves
    bit-reproducibility of the walk corpus across engines."""
    from knot_another_pipeline_spark.operators.graph import deterministic_walks

    li = load_table(spark, sf_dir, "lineitem")
    starts = (
        li.filter(F.col("l_partkey") % 97 == 0)
        .select(
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias(
                "node"
            )
        )
        .distinct()
    )
    out = deterministic_walks(
        _walk_edges(li), starts=starts, steps=3, walks_per_start=2
    )
    return out.orderBy("walk_id", "step")


def _walk_step_sql(cur: str, prev: str, t: int) -> str:
    return f"""
{cur} AS (
  SELECT f.walk_id, a.dst AS node
  FROM {prev} f
  JOIN deg d ON d.src = f.node
  JOIN adj a ON a.src = f.node AND a.rnk =
    CAST(concat('0x', substr(md5('0:' || f.walk_id || '|{t}|' || f.node),
                             1, 15)) AS BIGINT) % d.outdeg + 1)"""


ORACLE_DETERMINISTIC_WALKS = f"""
WITH e AS (
  SELECT DISTINCT 'o:' || l_orderkey AS src, 'p:' || l_partkey AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT 'p:' || l_partkey AS src, 'o:' || l_orderkey AS dst
  FROM lineitem),
adj AS (
  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) AS rnk
  FROM e),
deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
starts AS (
  SELECT DISTINCT 'p:' || l_partkey AS node
  FROM lineitem WHERE l_partkey % 97 = 0),
w0 AS (
  SELECT node || '#' || w AS walk_id, node
  FROM starts, (SELECT unnest([0, 1]) AS w)),
{_walk_step_sql("w1", "w0", 1)},
{_walk_step_sql("w2", "w1", 2)},
{_walk_step_sql("w3", "w2", 3)}
SELECT walk_id, CAST(0 AS INT) AS step, node FROM w0
UNION ALL SELECT walk_id, CAST(1 AS INT), node FROM w1
UNION ALL SELECT walk_id, CAST(2 AS INT), node FROM w2
UNION ALL SELECT walk_id, CAST(3 AS INT), node FROM w3
ORDER BY walk_id, step
"""


def q_reach_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-hop neighborhood census (operators/graph.py reach_census)
    from every 101st order node of the order<->part graph: hop-1 = the
    order's parts, hop-2 = other orders sharing a part, each node counted
    at its FIRST hop only.  Frontier-minus-reached BFS; the oracle is the
    same census as two EXCEPT-guarded distinct joins."""
    from knot_another_pipeline_spark.operators.graph import reach_census

    li = load_table(spark, sf_dir, "lineitem")
    # BIGINT node encoding through every hop's join/distinct shuffles;
    # decode to the "o:"/"p:" strings only in the final projection
    # (guide §2.3 — the pagerank-family relabeling, r12).
    roots = (
        li.filter(F.col("l_orderkey") % 101 == 0)
        .select(_bip_even(F.col("l_orderkey")).alias("node"))
        .distinct()
    )
    out = reach_census(_walk_edges_bip(li), roots=roots, hops=2)
    return out.select(
        _bip_decode(F.col("root"), "o:", "p:").alias("root"),
        "n_hop1",
        "n_hop2",
        "n_reach",
    ).orderBy("root")


ORACLE_REACH_CENSUS = """
WITH e AS (
  SELECT DISTINCT 'o:' || l_orderkey AS src, 'p:' || l_partkey AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT 'p:' || l_partkey AS src, 'o:' || l_orderkey AS dst
  FROM lineitem),
roots AS (
  SELECT DISTINCT 'o:' || l_orderkey AS root
  FROM lineitem WHERE l_orderkey % 101 = 0),
r0 AS (SELECT root, root AS node FROM roots),
f1 AS (
  (SELECT DISTINCT r.root, e.dst AS node FROM r0 r JOIN e ON e.src = r.node)
  EXCEPT (SELECT root, node FROM r0)),
f2 AS (
  (SELECT DISTINCT f.root, e.dst AS node FROM f1 f JOIN e ON e.src = f.node)
  EXCEPT (SELECT root, node FROM r0 UNION ALL SELECT root, node FROM f1)),
c1 AS (SELECT root, count(*) AS n FROM f1 GROUP BY root),
c2 AS (SELECT root, count(*) AS n FROM f2 GROUP BY root)
SELECT r.root,
       CAST(coalesce(c1.n, 0) AS BIGINT) AS n_hop1,
       CAST(coalesce(c2.n, 0) AS BIGINT) AS n_hop2,
       CAST(coalesce(c1.n, 0) + coalesce(c2.n, 0) AS BIGINT) AS n_reach
FROM roots r
LEFT JOIN c1 ON c1.root = r.root
LEFT JOIN c2 ON c2.root = r.root
ORDER BY r.root
"""


_DAILY_SERIES_SQL = """
  SELECT event_type AS series,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS DOUBLE) AS x,
         CAST(count(*) AS DOUBLE) AS y
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
"""


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return ev.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("_day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y")).select(
        "series",
        F.datediff(F.col("_day"), F.lit("2024-01-01").cast("date"))
        .cast("double")
        .alias("x"),
        "y",
    )


def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily event volumes per type
    (operators/temporal.py theil_sen): median of all pairwise slopes
    over the pre-aggregated daily series — the outlier-immune
    counterpart of the OLS trend_fit; one self-equi-join on the series
    key, medians via percentile/quantile_cont."""
    from knot_another_pipeline_spark.operators.temporal import theil_sen

    return theil_sen(
        _daily_series(spark, sf_dir),
        series_col="series", x_col="x", y_col="y",
    )


ORACLE_THEIL_SEN = f"""
WITH daily AS ({_DAILY_SERIES_SQL}),
pairs AS (
  SELECT a.series, (b.y - a.y) / (b.x - a.x) AS pair_slope
  FROM daily a JOIN daily b ON a.series = b.series AND a.x < b.x),
sl AS (
  SELECT series, CAST(count(*) AS BIGINT) AS n_pairs,
         quantile_cont(pair_slope, 0.5) AS slope
  FROM pairs GROUP BY series),
cnts AS (
  SELECT series, CAST(count(*) AS BIGINT) AS n_points
  FROM daily GROUP BY series),
res AS (
  SELECT d.series, quantile_cont(d.y - sl.slope * d.x, 0.5) AS intercept
  FROM daily d JOIN sl ON sl.series = d.series GROUP BY d.series)
SELECT c.series, c.n_points,
       coalesce(sl.n_pairs, 0) AS n_pairs,
       round(sl.slope, 6) AS slope,
       round(res.intercept, 6) AS intercept
FROM cnts c
LEFT JOIN sl ON sl.series = c.series
LEFT JOIN res ON res.series = c.series
ORDER BY c.series
"""


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing of daily event volumes per
    type (operators/temporal.py holt_forecast): the whole level/trend
    recurrence is one chronological F.aggregate fold in codegen; the
    oracle replays it with a recursive CTE, matching every double op
    in order."""
    from knot_another_pipeline_spark.operators.temporal import holt_forecast

    return holt_forecast(
        _daily_series(spark, sf_dir),
        series_col="series", t_col="x", y_col="y",
        alpha=0.5, beta=0.3, horizon=7,
    )


ORACLE_HOLT_FORECAST = f"""
WITH RECURSIVE daily AS ({_DAILY_SERIES_SQL}),
ord AS (
  SELECT series, y,
         row_number() OVER (PARTITION BY series ORDER BY x) AS rn
  FROM daily),
rec AS (
  SELECT o1.series, o2.y AS l, o2.y - o1.y AS b,
         CAST(0.0 AS DOUBLE) AS sse, 2 AS rn
  FROM ord o1 JOIN ord o2
    ON o1.series = o2.series AND o1.rn = 1 AND o2.rn = 2
  UNION ALL
  SELECT r.series,
         0.5e0 * o.y + 0.5e0 * (r.l + r.b),
         0.3e0 * ((0.5e0 * o.y + 0.5e0 * (r.l + r.b)) - r.l)
           + 0.7e0 * r.b,
         r.sse + (o.y - (r.l + r.b)) * (o.y - (r.l + r.b)),
         r.rn + 1
  FROM rec r JOIN ord o ON o.series = r.series AND o.rn = r.rn + 1),
fin AS (
  SELECT series, l, b, sse, rn
  FROM rec
  QUALIFY rn = max(rn) OVER (PARTITION BY series))
SELECT series, CAST(rn AS BIGINT) AS n_points,
       round(l, 6) AS level,
       round(b, 6) AS trend,
       round(l + 7e0 * b, 6) AS forecast,
       round(CASE WHEN rn > 2 THEN sqrt(sse / (rn - 2))
                  ELSE 0.0 END, 6) AS rmse
FROM fin
ORDER BY series
"""


def q_fdr_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR sweep (operators/quality.py fdr_adjust)
    over ~190 per-(event_type, hour) weekend-vs-weekday value z-tests:
    ranking by |z| so the exp-based p approximation never decides
    order, p/q from the ROUNDED z so both engines feed exp identical
    inputs."""
    from knot_another_pipeline_spark.operators.quality import fdr_adjust

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    wd = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        % 7
    )
    we = wd.isin(5, 6)
    v = F.col("value").cast("double")
    g = ev.groupBy(
        F.concat(
            F.col("event_type"), F.lit("@"), F.hour("ts").cast("string")
        ).alias("key")
    ).agg(
        F.sum(F.when(we, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(we, v).otherwise(0.0)).alias("s1"),
        F.sum(F.when(we, v * v).otherwise(0.0)).alias("ss1"),
        F.sum(F.when(~we, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(~we, v).otherwise(0.0)).alias("s0"),
        F.sum(F.when(~we, v * v).otherwise(0.0)).alias("ss0"),
    )
    m1, m0 = F.col("s1") / F.col("n1"), F.col("s0") / F.col("n0")
    v1 = F.col("ss1") / F.col("n1") - m1 * m1
    v0 = F.col("ss0") / F.col("n0") - m0 * m0
    se = F.sqrt(v1 / F.col("n1") + v0 / F.col("n0"))
    z = F.when(
        (F.col("n1") >= 2) & (F.col("n0") >= 2) & (se > 0), (m1 - m0) / se
    )
    tests = g.select("key", z.alias("z"))
    return fdr_adjust(tests, key_col="key", z_col="z", alpha=0.05)


ORACLE_FDR_ADJUST = """
WITH ev AS (
  SELECT event_type || '@' || CAST(hour(ts) AS VARCHAR) AS key,
         (datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7)
           IN (5, 6) AS we,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
g AS (
  SELECT key,
         CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         sum(CASE WHEN we THEN v ELSE 0.0e0 END) AS s1,
         sum(CASE WHEN we THEN v * v ELSE 0.0e0 END) AS ss1,
         CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         sum(CASE WHEN NOT we THEN v ELSE 0.0e0 END) AS s0,
         sum(CASE WHEN NOT we THEN v * v ELSE 0.0e0 END) AS ss0
  FROM ev GROUP BY key),
zt AS (
  SELECT key,
         round(CASE WHEN n1 >= 2 AND n0 >= 2
                     AND sqrt((ss1 / n1 - (s1 / n1) * (s1 / n1)) / n1
                            + (ss0 / n0 - (s0 / n0) * (s0 / n0)) / n0) > 0
               THEN (s1 / n1 - s0 / n0)
                    / sqrt((ss1 / n1 - (s1 / n1) * (s1 / n1)) / n1
                         + (ss0 / n0 - (s0 / n0) * (s0 / n0)) / n0)
               END, 6) AS z
  FROM g),
d AS (SELECT key, z FROM zt WHERE z IS NOT NULL),
ranked AS (
  SELECT key, z,
         2e0 * (exp(-abs(z) * abs(z) / 2e0) / 2.5066282746310002e0)
             * ((1e0 / (1e0 + 0.2316419e0 * abs(z)))
                * (0.319381530e0
                   + (1e0 / (1e0 + 0.2316419e0 * abs(z)))
                   * (-0.356563782e0
                      + (1e0 / (1e0 + 0.2316419e0 * abs(z)))
                      * (1.781477937e0
                         + (1e0 / (1e0 + 0.2316419e0 * abs(z)))
                         * (-1.821255978e0
                            + (1e0 / (1e0 + 0.2316419e0 * abs(z)))
                            * 1.330274429e0))))) AS p,
         row_number() OVER (ORDER BY abs(z) DESC, key ASC) AS rank,
         count(*) OVER () AS m
  FROM d)
SELECT key, z,
       round(p, 6) AS p_value,
       CAST(rank AS BIGINT) AS rank,
       round(least(1e0, min(p * m / rank) OVER (
           ORDER BY rank DESC ROWS UNBOUNDED PRECEDING)), 6) AS q_value,
       least(1e0, min(p * m / rank) OVER (
           ORDER BY rank DESC ROWS UNBOUNDED PRECEDING)) <= 0.05e0
         AS reject
FROM ranked
ORDER BY rank
"""


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test of daily event volumes per type
    (operators/temporal.py mann_kendall): exact integer S over the
    time-ordered pair table, tie-corrected variance, continuity-
    corrected z — the distribution-free gate in front of theil_sen's
    slope."""
    from knot_another_pipeline_spark.operators.temporal import mann_kendall

    return mann_kendall(
        _daily_series(spark, sf_dir),
        series_col="series", x_col="x", y_col="y",
    )


ORACLE_MANN_KENDALL = f"""
WITH daily AS ({_DAILY_SERIES_SQL}),
s AS (
  SELECT a.series,
         CAST(sum(CAST(sign(b.y - a.y) AS BIGINT)) AS BIGINT) AS s_stat
  FROM daily a JOIN daily b ON a.series = b.series AND a.x < b.x
  GROUP BY a.series),
n AS (
  SELECT series, CAST(count(*) AS BIGINT) AS n_points
  FROM daily GROUP BY series),
ties AS (
  SELECT series, sum(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT series, y, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY series, y) tt
  GROUP BY series),
j AS (
  SELECT n.series, n.n_points,
         coalesce(s.s_stat, 0) AS s_stat,
         CAST(n.n_points * (n.n_points - 1) * (2 * n.n_points + 5)
              - coalesce(ties.tie_term, 0) AS DOUBLE) / 18e0 AS var_s,
         s.s_stat AS s_raw
  FROM n
  LEFT JOIN s ON s.series = n.series
  LEFT JOIN ties ON ties.series = n.series)
SELECT series, n_points,
       CAST(s_stat AS BIGINT) AS s_stat,
       round(var_s, 6) AS var_s,
       round(CASE WHEN var_s > 0
             THEN CAST(s_raw - sign(s_raw) AS DOUBLE) / sqrt(var_s)
             END, 6) AS z,
       CASE WHEN var_s > 0 AND s_raw IS NOT NULL THEN
         abs(CAST(s_raw - sign(s_raw) AS DOUBLE) / sqrt(var_s))
           > 1.959963984540054e0 END AS trend_95,
       CASE WHEN var_s > 0 AND s_raw IS NOT NULL THEN
         abs(CAST(s_raw - sign(s_raw) AS DOUBLE) / sqrt(var_s))
           > 2.5758293035489004e0 END AS trend_99
FROM j
ORDER BY series
"""


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the 7 weekdays per event type
    (operators/quality.py kruskal_wallis): exact midranks, tie-corrected
    H, Wilson-Hilferty p - the k-class distribution-shift gate."""
    from knot_another_pipeline_spark.operators.quality import kruskal_wallis

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = ev.select(
        F.col("event_type").alias("family"),
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).cast("string").alias("wd"),
        F.col("value").alias("v"),
    )
    return kruskal_wallis(
        s, group_cols=["family"], value_col="v", class_col="wd"
    )


ORACLE_KRUSKAL_WALLIS = """
WITH s AS (
  SELECT event_type AS family,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS VARCHAR) AS cls,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
r AS (
  SELECT family, cls, v,
         rank() OVER (PARTITION BY family ORDER BY v)
           + (count(*) OVER (PARTITION BY family, v) - 1) / 2.0e0 AS rr
  FROM s),
pc AS (
  SELECT family, cls, CAST(count(*) AS DOUBLE) AS nc, sum(rr) AS rc
  FROM r GROUP BY family, cls),
fam AS (
  SELECT family, sum(nc) AS n, CAST(count(*) AS BIGINT) AS k,
         sum(rc * rc / nc) AS rrs
  FROM pc GROUP BY family),
ties AS (
  SELECT family, sum(t * t * t - t) AS tie3
  FROM (SELECT family, v, CAST(count(*) AS DOUBLE) AS t
        FROM s GROUP BY family, v) tt
  GROUP BY family),
j AS (
  SELECT f.family, f.n, f.k,
         CASE WHEN f.k >= 2 AND f.n > 1
               AND (1e0 - t.tie3 / (f.n * f.n * f.n - f.n)) > 0
         THEN (12e0 / (f.n * (f.n + 1)) * f.rrs - 3e0 * (f.n + 1))
              / (1e0 - t.tie3 / (f.n * f.n * f.n - f.n)) END AS hc,
         CAST(f.k - 1 AS DOUBLE) AS df
  FROM fam f JOIN ties t ON t.family = f.family),
z AS (
  SELECT family, n, k, hc, df,
         (cbrt(hc / df) - (1e0 - 2e0 / (9e0 * df)))
           / sqrt(2e0 / (9e0 * df)) AS zwh
  FROM j),
p AS (
  SELECT family, n, k, hc, df, zwh,
         2e0 * (exp(-abs(zwh) * abs(zwh) / 2e0) / 2.5066282746310002e0)
             * ((1e0 / (1e0 + 0.2316419e0 * abs(zwh)))
                * (0.319381530e0
                   + (1e0 / (1e0 + 0.2316419e0 * abs(zwh)))
                   * (-0.356563782e0
                      + (1e0 / (1e0 + 0.2316419e0 * abs(zwh)))
                      * (1.781477937e0
                         + (1e0 / (1e0 + 0.2316419e0 * abs(zwh)))
                         * (-1.821255978e0
                            + (1e0 / (1e0 + 0.2316419e0 * abs(zwh)))
                            * 1.330274429e0))))) AS sf2
  FROM z)
SELECT family,
       CAST(n AS BIGINT) AS n_total,
       k AS k_classes,
       round(hc, 6) AS h_corrected,
       CAST(df AS BIGINT) AS df,
       round(CASE WHEN zwh IS NULL THEN NULL
                  WHEN zwh >= 0 THEN sf2 / 2
                  ELSE 1e0 - sf2 / 2 END, 6) AS p_value
FROM p
ORDER BY family
"""


def q_jackknife_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-bucket-out jackknife CI for mean purchase value
    (operators/quality.py jackknife_ratio): 50 stable user buckets, one
    partial-sum aggregate over the data, pseudo-values row-local over
    the bucket rows."""
    from knot_another_pipeline_spark.functions.hashing import stable_bucket
    from knot_another_pipeline_spark.operators.quality import jackknife_ratio

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    isp = F.col("event_type") == "purchase"
    d = ev.select(
        stable_bucket(F.col("user_id"), 50).alias("bucket"),
        F.when(isp, F.col("value").cast("double")).otherwise(0.0).alias("x"),
        F.when(isp, 1.0).otherwise(0.0).alias("y"),
    )
    return jackknife_ratio(
        d, num_col="x", den_col="y", bucket_col="bucket"
    )


ORACLE_JACKKNIFE_RATIO = f"""
WITH e AS (
  SELECT {_stable_bucket_sql('user_id', 50)} AS b,
         CASE WHEN event_type = 'purchase' THEN CAST(value AS DOUBLE)
              ELSE 0.0e0 END AS x,
         CASE WHEN event_type = 'purchase' THEN 1.0e0 ELSE 0.0e0 END AS y
  FROM events WHERE value IS NOT NULL),
bk AS (SELECT b, sum(x) AS sx, sum(y) AS sy FROM e GROUP BY b),
tot AS (SELECT sum(sx) AS tx, sum(sy) AS ty,
               CAST(count(*) AS DOUBLE) AS nb FROM bk),
ps AS (
  SELECT nb, tx, ty, (tx - sx) / (ty - sy) AS th FROM bk, tot),
agg AS (
  SELECT nb, tx, ty, sum(th) AS st, sum(th * th) AS stt
  FROM ps GROUP BY nb, tx, ty)
SELECT round(tx / ty, 6) AS ratio,
       CAST(nb AS BIGINT) AS n_buckets,
       round(sqrt(greatest(
           (nb - 1) / nb * (stt - nb * (st / nb) * (st / nb)),
           0.0e0)), 6) AS jk_se,
       round(tx / ty - 1.959963984540054e0 * sqrt(greatest(
           (nb - 1) / nb * (stt - nb * (st / nb) * (st / nb)),
           0.0e0)), 6) AS ci_lo,
       round(tx / ty + 1.959963984540054e0 * sqrt(greatest(
           (nb - 1) / nb * (stt - nb * (st / nb) * (st / nb)),
           0.0e0)), 6) AS ci_hi
FROM agg
"""


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the documents population
    from two independent 20% hash-samples (operators/quality.py
    capture_recapture): one conditional aggregate, membership by
    hash64 arithmetic the oracle replays bit-exactly."""
    from knot_another_pipeline_spark.operators.quality import (
        capture_recapture,
    )

    docs = load_table(spark, sf_dir, "documents")
    return capture_recapture(docs, id_col="doc_id", pct_a=20, pct_b=20)


def _hash64_sql(expr: str, seed: int) -> str:
    """DuckDB replay of functions/hashing.py hash64 (md5 → 60-bit int)."""
    return (
        f"CAST(concat('0x', substr(md5('{seed}:' || CAST({expr} AS VARCHAR))"
        f", 1, 15)) AS BIGINT)"
    )


def _hash64_pct_sql(expr: str, seed: int, pct: int) -> str:
    return f"{_hash64_sql(expr, seed)} % 100 < {pct}"


ORACLE_CAPTURE_RECAPTURE = f"""
WITH g AS (
  SELECT
    CAST(sum(CASE WHEN {_hash64_pct_sql('doc_id', 1, 20)} THEN 1 ELSE 0 END)
         AS DOUBLE) AS na,
    CAST(sum(CASE WHEN {_hash64_pct_sql('doc_id', 2, 20)} THEN 1 ELSE 0 END)
         AS DOUBLE) AS nb,
    CAST(sum(CASE WHEN {_hash64_pct_sql('doc_id', 1, 20)}
                   AND {_hash64_pct_sql('doc_id', 2, 20)}
             THEN 1 ELSE 0 END) AS DOUBLE) AS m
  FROM documents)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CAST(m AS BIGINT) AS overlap,
       round((na + 1) * (nb + 1) / (m + 1) - 1, 6) AS n_hat,
       round(sqrt(greatest((na + 1) * (nb + 1) * (na - m) * (nb - m)
                  / ((m + 1) * (m + 1) * (m + 2)), 0.0e0)), 6) AS se,
       round((na + 1) * (nb + 1) / (m + 1) - 1
             - 1.959963984540054e0
               * sqrt(greatest((na + 1) * (nb + 1) * (na - m) * (nb - m)
                      / ((m + 1) * (m + 1) * (m + 2)), 0.0e0)), 6) AS ci_lo,
       round((na + 1) * (nb + 1) / (m + 1) - 1
             + 1.959963984540054e0
               * sqrt(greatest((na + 1) * (nb + 1) * (na - m) * (nb - m)
                      / ((m + 1) * (m + 1) * (m + 2)), 0.0e0)), 6) AS ci_hi
FROM g
"""


def q_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (operators/evaluation.py
    cuped_readout) on a per-user pre/post split of the events stream:
    covariate = the user's mean event value before 2024-07-01, metric =
    the mean after; arms by user-id parity.  One moment-sum aggregate
    over users, theta from a 2-row reduction, broadcast back."""
    from knot_another_pipeline_spark.operators.evaluation import (
        cuped_readout,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    split = F.col("ts") < F.lit("2024-07-01").cast("timestamp")
    users = (
        ev.groupBy("user_id")
        .agg(
            F.avg(F.when(split, F.col("value"))).alias("pre"),
            F.avg(F.when(~split, F.col("value"))).alias("post"),
        )
        .filter(F.col("pre").isNotNull() & F.col("post").isNotNull())
        .select(
            (F.col("user_id") % 2).cast("string").alias("arm"),
            "pre",
            "post",
        )
    )
    return cuped_readout(
        users, metric_col="post", covariate_col="pre", arm_col="arm"
    )


ORACLE_CUPED_READOUT = """
WITH users AS (
  SELECT CAST(user_id % 2 AS VARCHAR) AS arm,
         avg(CASE WHEN ts < TIMESTAMP '2024-07-01' THEN value END) AS pre,
         avg(CASE WHEN ts >= TIMESTAMP '2024-07-01' THEN value END) AS post
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY user_id),
u AS (SELECT * FROM users WHERE pre IS NOT NULL AND post IS NOT NULL),
arms AS (
  SELECT arm, count(*) AS n,
         sum(post) AS sy, sum(post * post) AS syy,
         sum(pre) AS sx, sum(pre * pre) AS sxx,
         sum(pre * post) AS sxy
  FROM u GROUP BY arm),
pool AS (
  SELECT sum(n) AS pn, sum(sy) AS psy, sum(sx) AS psx,
         sum(sxx) AS psxx, sum(sxy) AS psxy
  FROM arms),
th AS (
  SELECT CASE WHEN (psxx / pn - (psx / pn) * (psx / pn)) > 0
              THEN (psxy / pn - (psx / pn) * (psy / pn))
                   / (psxx / pn - (psx / pn) * (psx / pn))
              ELSE 0.0 END AS theta,
         psx / pn AS mx_pool
  FROM pool)
SELECT arm, CAST(n AS BIGINT) AS n,
       round(sy / n, 6) AS mean_metric,
       round(sy / n - theta * (sx / n - mx_pool), 6) AS mean_adjusted,
       round(theta, 6) AS theta,
       CASE WHEN (syy / n - (sy / n) * (sy / n)) > 0 THEN
         round(1 - ((syy / n - (sy / n) * (sy / n))
                    - 2 * theta * (sxy / n - (sx / n) * (sy / n))
                    + theta * theta * (sxx / n - (sx / n) * (sx / n)))
                   / (syy / n - (sy / n) * (sy / n)), 6)
       END AS var_reduction
FROM arms, th
ORDER BY arm
"""


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the synthetic purchase scorer per
    weekday (operators/evaluation.py isotonic_calibration): one binned
    aggregate + per-group pool-adjacent-violators with exact integer
    rate comparisons.  The oracle computes the identical fit through
    the O(B^2) minimax identity max_{a<=i} min_{b>=i} mean(a..b), so
    the hash match proves PAV == minimax on this data."""
    from knot_another_pipeline_spark.operators.evaluation import (
        isotonic_calibration,
    )

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = events.select(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).cast("string").alias("wd"),
        (F.col("value") / 491.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return isotonic_calibration(
        s, score_col="score", label_col="y", group_cols=["wd"], n_bins=40
    )


ORACLE_ISOTONIC_CALIBRATION = """
WITH s AS (
  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS VARCHAR) AS wd,
         CAST(value AS DOUBLE) / 491.0 AS sc,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
b AS (
  SELECT wd, least(39, greatest(0, CAST(floor(sc * 40) AS INT))) AS bin, y
  FROM s),
bins AS (
  SELECT wd, bin, count(*) AS n, sum(y) AS pos FROM b GROUP BY wd, bin),
cum AS (
  SELECT wd, bin, n, pos,
         row_number() OVER (PARTITION BY wd ORDER BY bin) AS rn,
         sum(n) OVER (PARTITION BY wd ORDER BY bin) AS cn,
         sum(pos) OVER (PARTITION BY wd ORDER BY bin) AS cp
  FROM bins),
ranges AS (
  SELECT hi.wd, lo.rn AS a, hi.rn AS b,
         (hi.cp - lo.cp + lo.pos) * 1.0 / (hi.cn - lo.cn + lo.n) AS mean
  FROM cum hi JOIN cum lo ON lo.wd = hi.wd AND lo.rn <= hi.rn),
g AS (
  SELECT wd, a, b AS i,
         min(mean) OVER (PARTITION BY wd, a ORDER BY b DESC) AS minmean
  FROM ranges),
iso AS (
  SELECT wd, i AS rn, max(minmean) AS iso FROM g GROUP BY wd, i)
SELECT c.wd, c.bin,
       round(c.bin / 40.0, 6) AS lo,
       CAST(c.n AS BIGINT) AS n,
       CAST(c.pos AS BIGINT) AS pos,
       round(c.pos * 1.0 / c.n, 6) AS raw_rate,
       round(iso.iso, 6) AS iso_prob
FROM cum c JOIN iso ON iso.wd = c.wd AND iso.rn = c.rn
ORDER BY c.wd, c.bin
"""


def _nsf2_sql(z: str) -> str:
    """Two-sided normal p ``2·(1−Φ(|z|))`` — the same
    Abramowitz–Stegun 26.2.17 polynomial as
    operators/quality.py normal_sf_two_sided, on a SQL expression."""
    k = f"(1e0 / (1e0 + 0.2316419e0 * abs({z})))"
    return (
        f"2e0 * (exp(-abs({z}) * abs({z}) / 2e0) / 2.5066282746310002e0)"
        f" * ({k} * (0.319381530e0 + {k} * (-0.356563782e0 + {k}"
        f" * (1.781477937e0 + {k} * (-1.821255978e0 + {k}"
        f" * 1.330274429e0)))))"
    )


def _wh_chi2_p_sql(stat: str, dof: str) -> str:
    """One-sided chi-square p via the Wilson–Hilferty cube-root normal
    approximation — the SQL twin of the kruskal_wallis/cochran_q
    z construction (cbrt/exp only, no gamma function)."""
    zwh = (
        f"((cbrt(({stat}) / ({dof})) - (1e0 - 2e0 / (9e0 * ({dof}))))"
        f" / sqrt(2e0 / (9e0 * ({dof}))))"
    )
    return (
        f"(CASE WHEN {zwh} IS NULL THEN NULL"
        f" WHEN {zwh} >= 0 THEN ({_nsf2_sql(zwh)}) / 2"
        f" ELSE 1e0 - ({_nsf2_sql(zwh)}) / 2 END)"
    )


def q_mcnemar_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired comparison of two threshold scorers per weekday
    (operators/evaluation.py mcnemar_readout): one conditional hash
    aggregate, z from the discordant cells only, continuity-corrected,
    p via the shared normal-sf polynomial."""
    from knot_another_pipeline_spark.operators.evaluation import (
        mcnemar_readout,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    label = F.col("event_type") == "purchase"
    s = ev.select(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).cast("string").alias("wd"),
        ((F.col("value") > 60) == label).alias("a_ok"),
        ((F.col("value") > 40) == label).alias("b_ok"),
    )
    return mcnemar_readout(
        s, a_correct_col="a_ok", b_correct_col="b_ok", group_cols=["wd"]
    )


ORACLE_MCNEMAR_READOUT = f"""
WITH s AS (
  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS VARCHAR) AS wd,
         (CAST(value AS DOUBLE) > 60) = (event_type = 'purchase') AS a_ok,
         (CAST(value AS DOUBLE) > 40) = (event_type = 'purchase') AS b_ok
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
g AS (
  SELECT wd, count(*) AS n,
         sum(CASE WHEN a_ok AND b_ok THEN 1 ELSE 0 END) AS n11,
         sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS n10,
         sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END) AS n01,
         sum(CASE WHEN NOT a_ok AND NOT b_ok THEN 1 ELSE 0 END) AS n00
  FROM s GROUP BY wd),
z AS (
  SELECT *, CASE WHEN n10 + n01 > 0
                 THEN (abs(CAST(n10 AS DOUBLE) - n01) - 1e0)
                      / sqrt(CAST(n10 + n01 AS DOUBLE)) END AS zv
  FROM g)
SELECT wd, CAST(n AS BIGINT) AS n,
       CAST(n11 AS BIGINT) AS both_correct,
       CAST(n10 AS BIGINT) AS only_a,
       CAST(n01 AS BIGINT) AS only_b,
       CAST(n00 AS BIGINT) AS both_wrong,
       round((n11 + n10) * 1.0 / n, 6) AS acc_a,
       round((n11 + n01) * 1.0 / n, 6) AS acc_b,
       round(zv, 6) AS z,
       round(CASE WHEN zv IS NOT NULL THEN {_nsf2_sql('zv')} END, 6)
         AS p_value
FROM z
ORDER BY wd
"""


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three heuristic purchase scorers matched on
    the same events (operators/evaluation.py cochran_q): stack keeps a
    single scan, the completeness filter drops items any scorer
    skipped, the per-treatment census shuffles k rows."""
    from knot_another_pipeline_spark.operators.evaluation import cochran_q

    ev = load_table(spark, sf_dir, "events")
    label = F.col("event_type") == "purchase"
    s = ev.select(
        "event_id",
        ((F.col("value") > 60) == label).alias("m1"),
        ((F.col("value") > 40) == label).alias("m2"),
        ((F.pmod(F.col("user_id"), 2) == 0) == label).alias("m3"),
    ).select(
        "event_id",
        F.expr(
            "stack(3, 'm1', m1, 'm2', m2, 'm3', m3) AS (model, ok)"
        ),
    )
    return cochran_q(
        s, item_col="event_id", treatment_col="model", success_col="ok"
    )


ORACLE_COCHRAN_Q = f"""
WITH long AS (
  SELECT event_id AS i, 'm1' AS t,
         CASE WHEN (CAST(value AS DOUBLE) > 60) = (event_type = 'purchase')
              THEN 1 ELSE 0 END AS y,
         value IS NULL AS is_null
  FROM events
  UNION ALL
  SELECT event_id, 'm2',
         CASE WHEN (CAST(value AS DOUBLE) > 40) = (event_type = 'purchase')
              THEN 1 ELSE 0 END,
         value IS NULL
  FROM events
  UNION ALL
  SELECT event_id, 'm3',
         CASE WHEN ((user_id % 2) = 0) = (event_type = 'purchase')
              THEN 1 ELSE 0 END,
         FALSE
  FROM events),
s AS (SELECT i, t, y FROM long WHERE NOT is_null),
k AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS k FROM s),
items AS (
  SELECT i, CAST(count(*) AS DOUBLE) AS cnt, CAST(sum(y) AS DOUBLE) AS l
  FROM s GROUP BY i),
keep AS (SELECT i, l FROM items, k WHERE cnt = k),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items, sum(l) AS tt,
         sum(l * l) AS ll, max(k.k) AS k
  FROM keep, k),
g AS (
  SELECT s.t, CAST(sum(s.y) AS DOUBLE) AS g
  FROM s JOIN keep ON keep.i = s.i GROUP BY s.t),
red AS (
  SELECT n_items, tt, ll, k,
         sum((g.g - tt / k) * (g.g - tt / k)) AS gg
  FROM g, tot GROUP BY n_items, tt, ll, k),
q AS (
  SELECT n_items, k,
         CASE WHEN k * tt - ll > 0
              THEN k * (k - 1) * gg / (k * tt - ll) END AS q,
         k - 1 AS dof
  FROM red)
SELECT n_items,
       CAST(k AS BIGINT) AS k_treatments,
       round(q, 6) AS q_stat,
       CAST(dof AS BIGINT) AS df,
       round({_wh_chi2_p_sql('q', 'dof')}, 6) AS p_value
FROM q
"""


def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer–Lemeshow calibration GOF for the synthetic purchase
    scorer (operators/evaluation.py hosmer_lemeshow): decile bins from
    global_rank's range-partitioned total order (score, event_id) —
    the explicit floor((rank−1)·bins/N) split the oracle replays, no
    single-partition NTILE window."""
    from knot_another_pipeline_spark.operators.evaluation import (
        hosmer_lemeshow,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.select(
        "event_id",
        F.least(
            F.greatest(F.col("value") / 491.0, F.lit(0.001)), F.lit(0.999)
        ).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return hosmer_lemeshow(
        s, score_col="score", label_col="y", id_col="event_id", bins=10
    )


ORACLE_HOSMER_LEMESHOW = f"""
WITH s AS (
  SELECT event_id,
         least(greatest(CAST(value AS DOUBLE) / 491.0e0, 0.001e0),
               0.999e0) AS sc,
         CASE WHEN event_type = 'purchase' THEN 1.0e0 ELSE 0.0e0 END AS y
  FROM events WHERE value IS NOT NULL),
r AS (
  SELECT sc, y,
         row_number() OVER (ORDER BY sc, event_id) AS rk,
         count(*) OVER () AS n
  FROM s),
b AS (
  SELECT n, CAST(floor((rk - 1) * 10.0 / n) AS BIGINT) AS bin, sc, y
  FROM r),
per_bin AS (
  SELECT bin, max(n) AS n, CAST(count(*) AS DOUBLE) AS ng,
         sum(y) AS o, sum(sc) AS e
  FROM b GROUP BY bin),
red AS (
  SELECT max(n) AS n,
         sum(CASE WHEN e > 0 AND e < ng THEN 1 ELSE 0 END) AS nb,
         sum(CASE WHEN e > 0 AND e < ng
                  THEN (o - e) * (o - e) / (e * (1e0 - e / ng)) END)
           AS chi2
  FROM per_bin),
fin AS (
  SELECT n, nb,
         CASE WHEN nb - 2 >= 1 THEN chi2 END AS c2,
         CAST(nb - 2 AS DOUBLE) AS dof
  FROM red)
SELECT CAST(n AS BIGINT) AS n,
       CAST(nb AS BIGINT) AS n_bins_valid,
       round(c2, 6) AS chi2,
       CASE WHEN dof >= 1 THEN CAST(dof AS BIGINT) END AS df,
       round(CASE WHEN c2 IS NOT NULL
                  THEN {_wh_chi2_p_sql('c2', 'dof')} END, 6) AS p_value
FROM fin
"""


def q_mde_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sensitivity readout on the user-parity A/B split
    (operators/evaluation.py mde_power): one conditional moment
    aggregate, every derived column closed-form row-local algebra the
    oracle replays."""
    from knot_another_pipeline_spark.operators.evaluation import mde_power

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.select(
        (F.col("user_id") % 2).cast("string").alias("arm"),
        F.col("value").cast("double").alias("v"),
    )
    return mde_power(
        s, arm_col="arm", value_col="v", control="0", treatment="1"
    )


ORACLE_MDE_POWER = f"""
WITH s AS (
  SELECT CAST(user_id % 2 AS VARCHAR) AS arm, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
g AS (
  SELECT
    CAST(sum(CASE WHEN arm = '0' THEN 1 ELSE 0 END) AS DOUBLE) AS nc,
    sum(CASE WHEN arm = '0' THEN v ELSE 0e0 END) AS sc,
    sum(CASE WHEN arm = '0' THEN v * v ELSE 0e0 END) AS qc,
    CAST(sum(CASE WHEN arm = '1' THEN 1 ELSE 0 END) AS DOUBLE) AS nt,
    sum(CASE WHEN arm = '1' THEN v ELSE 0e0 END) AS st,
    sum(CASE WHEN arm = '1' THEN v * v ELSE 0e0 END) AS qt
  FROM s WHERE arm IN ('0', '1')),
m AS (
  SELECT nc, nt, sc / nc AS mc, st / nt AS mt,
         (qc - nc * (sc / nc) * (sc / nc)) / (nc - 1) AS vc,
         (qt - nt * (st / nt) * (st / nt)) / (nt - 1) AS vt
  FROM g),
d AS (
  SELECT *,
         mt - mc AS diff,
         CASE WHEN nc > 1 AND nt > 1
              THEN sqrt(greatest(vc / nc + vt / nt, 0e0)) END AS se
  FROM m),
e AS (
  SELECT *,
         2.8015852181129683e0 * se AS mde,
         CASE WHEN se > 0
              THEN abs(diff) / se - 1.959963984540054e0 END AS zeff
  FROM d)
SELECT CAST(nc AS BIGINT) AS n_control,
       CAST(nt AS BIGINT) AS n_treatment,
       round(mc, 6) AS mean_control,
       round(mt, 6) AS mean_treatment,
       round(diff, 6) AS diff,
       round(se, 6) AS se,
       round(mde, 6) AS mde_abs,
       round(CASE WHEN mc <> 0 THEN mde / abs(mc) END, 6) AS mde_rel,
       round(CASE WHEN zeff IS NULL THEN NULL
                  WHEN zeff >= 0 THEN 1e0 - ({_nsf2_sql('zeff')}) / 2
                  ELSE ({_nsf2_sql('zeff')}) / 2 END, 6)
         AS power_at_observed,
       CASE WHEN nc > 1 AND nt > 1 AND diff <> 0
            THEN CAST(ceil(2.8015852181129683e0 * 2.8015852181129683e0
                           * greatest(vc + vt, 0e0) / (diff * diff))
                      AS BIGINT) END AS n_per_arm_next
FROM e
"""


def _paulson_f_p_sql(f: str, df1: str, df2: str) -> str:
    """Upper-tail F p via the Paulson double cube-root normal
    approximation — the SQL twin of operators/quality.py
    _f_dist_p_one_sided (cbrt/sqrt/exp only, no beta function)."""
    z = (
        f"(((1e0 - 2e0 / (9e0 * ({df2}))) * cbrt({f})"
        f" - (1e0 - 2e0 / (9e0 * ({df1}))))"
        f" / sqrt(2e0 / (9e0 * ({df1}))"
        f" + cbrt({f}) * cbrt({f}) * 2e0 / (9e0 * ({df2}))))"
    )
    return (
        f"(CASE WHEN {z} IS NULL THEN NULL"
        f" WHEN {z} >= 0 THEN ({_nsf2_sql(z)}) / 2"
        f" ELSE 1e0 - ({_nsf2_sql(z)}) / 2 END)"
    )


_ANOVA_REDUCE_SQL = """
per_class AS (
  SELECT fam, c, CAST(count(*) AS DOUBLE) AS n,
         sum(v) AS s, sum(v * v) AS q
  FROM s GROUP BY fam, c),
fam AS (
  SELECT fam, sum(n) AS nt, CAST(count(*) AS DOUBLE) AS k,
         sum(s * s / n) AS sb, sum(q) AS qq, sum(s) AS t
  FROM per_class GROUP BY fam),
parts AS (
  SELECT fam, nt, k,
         sb - t * t / nt AS ssb,
         qq - sb AS ssw,
         qq - t * t / nt AS sst,
         k - 1 AS df1, nt - k AS df2
  FROM fam),
stat AS (
  SELECT fam, nt, k, ssb, sst, df1, df2,
         CASE WHEN k >= 2 AND df2 >= 1 AND ssw > 0
              THEN (ssb / df1) / (ssw / df2) END AS f
  FROM parts)
"""


def q_oneway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of extended price across return flags per line
    status (operators/quality.py oneway_anova): one moment-sum hash
    aggregate sees the rows, F/eta-squared/Paulson-p by algebra on the
    k class rows."""
    from knot_another_pipeline_spark.operators.quality import oneway_anova

    li = load_table(spark, sf_dir, "lineitem")
    return oneway_anova(
        li.select(
            F.col("l_linestatus").alias("status"),
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").cast("double").alias("price"),
        ),
        group_cols=["status"],
        value_col="price",
        class_col="flag",
    )


ORACLE_ONEWAY_ANOVA = f"""
WITH s AS (
  SELECT l_linestatus AS fam, l_returnflag AS c,
         CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
{_ANOVA_REDUCE_SQL}
SELECT fam AS status,
       CAST(nt AS BIGINT) AS n_total,
       CAST(k AS BIGINT) AS k_classes,
       round(f, 6) AS f_stat,
       CASE WHEN k >= 2 THEN CAST(df1 AS BIGINT) END AS df1,
       CASE WHEN df2 >= 1 THEN CAST(df2 AS BIGINT) END AS df2,
       round(CASE WHEN sst > 0 THEN ssb / sst END, 6) AS eta_sq,
       round({_paulson_f_p_sql('f', 'df1', 'df2')}, 6) AS p_value
FROM stat
ORDER BY status
"""


def q_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test on the same slicing as
    oneway_anova (operators/quality.py levene_test): exact
    percentile(0.5) class medians — the interpolating midpoint DuckDB's
    median() replays — then ANOVA algebra on |v − med|."""
    from knot_another_pipeline_spark.operators.quality import levene_test

    li = load_table(spark, sf_dir, "lineitem")
    return levene_test(
        li.select(
            F.col("l_linestatus").alias("status"),
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").cast("double").alias("price"),
        ),
        group_cols=["status"],
        value_col="price",
        class_col="flag",
    )


ORACLE_LEVENE_TEST = f"""
WITH raw AS (
  SELECT l_linestatus AS fam, l_returnflag AS c,
         CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL),
meds AS (
  SELECT fam, c, median(v) AS med FROM raw GROUP BY fam, c),
s AS (
  SELECT raw.fam, raw.c, abs(raw.v - meds.med) AS v
  FROM raw JOIN meds ON meds.fam = raw.fam AND meds.c = raw.c),
{_ANOVA_REDUCE_SQL}
SELECT fam AS status,
       CAST(nt AS BIGINT) AS n_total,
       CAST(k AS BIGINT) AS k_classes,
       round(f, 6) AS w_stat,
       CASE WHEN k >= 2 THEN CAST(df1 AS BIGINT) END AS df1,
       CASE WHEN df2 >= 1 THEN CAST(df2 AS BIGINT) END AS df2,
       round({_paulson_f_p_sql('f', 'df1', 'df2')}, 6) AS p_value
FROM stat
ORDER BY status
"""


def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of hourly event volumes per type at the candidate
    periods 6h/12h/24h/168h (operators/temporal.py periodogram): ONE
    hash aggregate over rows × 4 candidates from a broadcast
    crossJoin, mean-centering collapsed onto uncentered trig sums."""
    from knot_another_pipeline_spark.operators.temporal import periodogram

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        F.col("event_type").alias("series"),
        (
            F.floor(
                (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(
                        F.lit("2024-01-01 00:00:00").cast("timestamp")
                    )
                )
                / F.lit(3600000000)
            )
        ).alias("t"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return periodogram(
        hourly,
        series_col="series",
        t_col="t",
        value_col="y",
        periods=[6.0, 12.0, 24.0, 168.0],
    )


ORACLE_PERIODOGRAM = """
WITH hourly AS (
  SELECT event_type AS series,
         CAST(floor(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(TIMESTAMP '2024-01-01 00:00:00'
                         ) AS DOUBLE) / 3600000000e0) AS DOUBLE) AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type,
           floor(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                      - epoch_us(TIMESTAMP '2024-01-01 00:00:00'
                      ) AS DOUBLE) / 3600000000e0)),
per AS (SELECT unnest([6e0, 12e0, 24e0, 168e0]) AS period),
g AS (
  SELECT series, period,
         CAST(count(*) AS DOUBLE) AS n,
         sum(y) AS sy, sum(y * y) AS syy,
         sum(y * cos(2e0 * pi() * t / period)) AS yc,
         sum(y * sin(2e0 * pi() * t / period)) AS ys,
         sum(cos(2e0 * pi() * t / period)) AS c,
         sum(sin(2e0 * pi() * t / period)) AS s
  FROM hourly, per GROUP BY series, period),
m AS (
  SELECT series, period, n,
         syy / n - (sy / n) * (sy / n) AS var,
         yc - (sy / n) * c AS cc,
         ys - (sy / n) * s AS ss
  FROM g),
p AS (
  SELECT series, period, n,
         CASE WHEN var > 0
              THEN (cc * cc + ss * ss) * 2e0 / n / (2e0 * var * n)
              END AS share,
         CASE WHEN n > 0 THEN sqrt(cc * cc + ss * ss) * 2e0 / n
              END AS amp
  FROM m),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY series
    ORDER BY share DESC NULLS LAST, period ASC) AS rk
  FROM p)
SELECT series, period, CAST(n AS BIGINT) AS n,
       round(share, 6) AS var_share,
       round(amp, 6) AS amplitude,
       rk = 1 AS is_dominant
FROM r
ORDER BY series, period
"""


def q_lag_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of daily click volume vs daily purchase
    volume at lags −7..7 (operators/temporal.py lag_correlation):
    broadcast lag list, one shifted integer equi-join, one moment-sum
    aggregate to 15 rows."""
    from knot_another_pipeline_spark.operators.temporal import (
        lag_correlation,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("t")
    ).agg(
        F.sum((F.col("event_type") == "click").cast("int"))
        .cast("double")
        .alias("a"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("double")
        .alias("b"),
    )
    return lag_correlation(
        daily, t_col="t", a_col="a", b_col="b", max_lag=7
    )


ORACLE_LAG_CORRELATION = """
WITH daily AS (
  SELECT datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS DOUBLE) AS a,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS b
  FROM events WHERE ts IS NOT NULL GROUP BY CAST(ts AS DATE)),
lags AS (SELECT unnest(range(-7, 8)) AS lag),
j AS (
  SELECT lags.lag,
         CAST(count(*) AS DOUBLE) AS n,
         sum(x.a) AS sa, sum(y.b) AS sb,
         sum(x.a * x.a) AS saa, sum(y.b * y.b) AS sbb,
         sum(x.a * y.b) AS sab
  FROM daily x, lags
  JOIN daily y ON y.t = x.t + lags.lag
  GROUP BY lags.lag),
c AS (
  SELECT lag, n,
         n * sab - sa * sb AS cov,
         n * saa - sa * sa AS va,
         n * sbb - sb * sb AS vb
  FROM j),
r AS (
  SELECT lag, n,
         CASE WHEN va > 0 AND vb > 0 THEN cov / sqrt(va * vb) END AS corr,
         row_number() OVER (
           ORDER BY CASE WHEN va > 0 AND vb > 0
                         THEN abs(cov / sqrt(va * vb)) END
                    DESC NULLS LAST,
                    abs(lag) ASC, lag ASC) AS rk
  FROM c)
SELECT CAST(lag AS BIGINT) AS lag,
       CAST(n AS BIGINT) AS n_overlap,
       round(corr, 6) AS corr,
       rk = 1 AS is_best
FROM r
ORDER BY lag
"""


def q_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert clustering key over (user_id, floor(value)) — the
    stronger-locality sibling of q_zorder_key on the same dimensions
    (functions/hashing.py hilbert_key): 16 chained codegen
    projections of shift/CASE integer arithmetic, no UDF, no
    shuffle; the oracle replays the identical rounds as chained
    CTEs."""
    from knot_another_pipeline_spark.functions.hashing import hilbert_key

    ev = load_table(spark, sf_dir, "events")
    return hilbert_key(
        ev.select(
            "event_id",
            F.col("user_id").alias("x"),
            F.coalesce(
                F.floor(F.col("value")).cast("long"), F.lit(0)
            ).alias("y"),
        ),
        x_col="x",
        y_col="y",
        out_col="hkey",
        order=16,
    ).select("event_id", "hkey")


def _hilbert_oracle_sql(order: int) -> str:
    mask = (1 << order) - 1
    steps = []
    prev = "it"
    for i in range(order - 1, -1, -1):
        s = 1 << i
        rx = f"((x >> {i}) & 1)"
        ry = f"((y >> {i}) & 1)"
        quad = (
            f"(CASE WHEN {rx} = 1 AND {ry} = 1 THEN 2"
            f" WHEN {rx} = 1 THEN 3"
            f" WHEN {ry} = 1 THEN 1 ELSE 0 END)"
        )
        xf = f"(CASE WHEN {rx} = 1 THEN {s - 1} - x ELSE x END)"
        yf = f"(CASE WHEN {rx} = 1 THEN {s - 1} - y ELSE y END)"
        cur = f"it{i}"
        steps.append(
            f"{cur} AS (\n"
            f"  SELECT event_id,\n"
            f"         CASE WHEN {ry} = 0 THEN {yf} ELSE x END AS x,\n"
            f"         CASE WHEN {ry} = 0 THEN {xf} ELSE y END AS y,\n"
            f"         d + {s * s} * {quad} AS d\n"
            f"  FROM {prev})"
        )
        prev = cur
    return (
        "WITH it AS (\n"
        "  SELECT event_id,\n"
        f"         CAST(user_id AS BIGINT) & {mask} AS x,\n"
        "         CAST(coalesce(CAST(floor(value) AS BIGINT), 0)"
        f" AS BIGINT) & {mask} AS y,\n"
        "         CAST(0 AS BIGINT) AS d\n"
        "  FROM events),\n"
        + ",\n".join(steps)
        + f"\nSELECT event_id, d AS hkey FROM {prev}"
    )


ORACLE_HILBERT_KEY = _hilbert_oracle_sql(16)


def q_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-group pruning simulator over (user_id, floor(value))
    comparing natural vs Morton vs Hilbert sort layouts
    (operators/relational.py layout_pruning): one global_rank per
    layout, group min/max stats, the parquet box-intersection
    decision replayed on 256-row simulated groups."""
    from knot_another_pipeline_spark.operators.relational import (
        layout_pruning,
    )

    return layout_pruning(
        _layout_pruning_input(spark, sf_dir),
        x_col="x",
        y_col="y",
        id_col="event_id",
        box=(10.0, 40.0, 100.0, 300.0),
        group_rows=256,
        order=16,
    )


def _layout_pruning_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("user_id").alias("x"),
        F.coalesce(F.floor(F.col("value")).cast("long"), F.lit(0)).alias(
            "y"
        ),
    )


def stage_layouts(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the three candidate sort layouts once — the
    warehouse shape (a layout is sorted once and then serves many box
    queries; re-running three global sorts per readout is a bench
    artifact, not the production cost).  bench.py stages this untimed
    and times only the pruning readout, mirroring the
    ``stage_pairs_daily`` / ``q_pairs_total_from_table`` split."""
    from knot_another_pipeline_spark.operators.relational import (
        layout_rankings,
    )

    layout_rankings(
        _layout_pruning_input(spark, sf_dir),
        x_col="x",
        y_col="y",
        id_col="event_id",
        order=16,
    ).write.mode("overwrite").parquet(path)


def q_layout_pruning_from_table(
    spark: SparkSession, layouts_path: str
) -> DataFrame:
    """`layout_pruning` over materialized layouts: times only the
    group-stats + box-intersection readout, not the three sorts."""
    from knot_another_pipeline_spark.operators.relational import (
        layout_pruning_readout,
    )

    return layout_pruning_readout(
        spark.read.parquet(layouts_path),
        box=(10.0, 40.0, 100.0, 300.0),
        group_rows=256,
    )


def _layout_oracle_sql(order: int, group_rows: int, box) -> str:
    mask = (1 << order) - 1
    x_lo, x_hi, y_lo, y_hi = box
    steps = [
        "h AS (\n"
        f"  SELECT id, x, y, x & {mask} AS hx, y & {mask} AS hy,\n"
        "         CAST(0 AS BIGINT) AS d\n"
        "  FROM base)"
    ]
    prev = "h"
    for i in range(order - 1, -1, -1):
        s = 1 << i
        rx = f"((hx >> {i}) & 1)"
        ry = f"((hy >> {i}) & 1)"
        quad = (
            f"(CASE WHEN {rx} = 1 AND {ry} = 1 THEN 2"
            f" WHEN {rx} = 1 THEN 3"
            f" WHEN {ry} = 1 THEN 1 ELSE 0 END)"
        )
        xf = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END)"
        yf = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END)"
        cur = f"h{i}"
        steps.append(
            f"{cur} AS (\n"
            f"  SELECT id, x, y,\n"
            f"         CASE WHEN {ry} = 0 THEN {yf} ELSE hx END AS hx,\n"
            f"         CASE WHEN {ry} = 0 THEN {xf} ELSE hy END AS hy,\n"
            f"         d + {s * s} * {quad} AS d\n"
            f"  FROM {prev})"
        )
        prev = cur
    morton = (
        f"({_spread_sql('x')}) | (({_spread_sql('y')}) << 1)"
    )

    def layout_sql(name: str, ranked: str) -> str:
        return f"""
SELECT '{name}' AS layout,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         AS groups_touched,
       CAST(sum(CASE WHEN hit THEN n ELSE 0 END) AS BIGINT)
         AS rows_touched,
       round(1e0 - sum(CASE WHEN hit THEN 1e0 ELSE 0e0 END) / count(*), 6)
         AS prune_fraction
FROM (
  SELECT CAST(count(*) AS BIGINT) AS n,
         max(x) >= {x_lo} AND min(x) <= {x_hi}
         AND max(y) >= {y_lo} AND min(y) <= {y_hi} AS hit
  FROM {ranked}
  GROUP BY (rk - 1) // {group_rows})
"""

    return (
        "WITH base AS (\n"
        "  SELECT event_id AS id, CAST(user_id AS BIGINT) AS x,\n"
        "         coalesce(CAST(floor(value) AS BIGINT), 0) AS y\n"
        "  FROM events WHERE user_id IS NOT NULL),\n"
        + ",\n".join(steps)
        + """,
nat AS (
  SELECT x, y, row_number() OVER (ORDER BY CAST(id AS BIGINT), id) AS rk
  FROM base),
mor AS (
"""
        + f"  SELECT x, y, row_number() OVER (ORDER BY {morton}, id) AS rk\n"
        "  FROM base),\n"
        f"hil AS (\n"
        f"  SELECT x, y, row_number() OVER (ORDER BY d, id) AS rk\n"
        f"  FROM {prev})\n"
        + layout_sql("hilbert", "hil")
        + "UNION ALL"
        + layout_sql("morton", "mor")
        + "UNION ALL"
        + layout_sql("natural", "nat")
        + "ORDER BY layout"
    )


ORACLE_LAYOUT_PRUNING = _layout_oracle_sql(
    16, 256, (10.0, 40.0, 100.0, 300.0)
)


def q_msprt_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential readout of the user-parity null
    experiment, one look per day (operators/evaluation.py
    msprt_readout): per-(day, arm) moment aggregate is the only
    data-sized shuffle, mixture-SPRT lambda and the running-min p over
    one bounded row per look.  A null split — the always-valid p must
    wander but never reject."""
    from knot_another_pipeline_spark.operators.evaluation import (
        msprt_readout,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = ev.select(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("look"),
        (F.col("user_id") % 2).cast("string").alias("arm"),
        F.col("value").cast("double").alias("v"),
    )
    return msprt_readout(
        s,
        look_col="look",
        arm_col="arm",
        value_col="v",
        control="0",
        treatment="1",
        tau_sq=100.0,
    )


ORACLE_MSPRT_READOUT = """
WITH s AS (
  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS look,
         CAST(user_id % 2 AS VARCHAR) AS arm,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
pl AS (
  SELECT look,
         CAST(sum(CASE WHEN arm = '0' THEN 1 ELSE 0 END) AS DOUBLE) AS dnc,
         sum(CASE WHEN arm = '0' THEN v ELSE 0e0 END) AS dsc,
         sum(CASE WHEN arm = '0' THEN v * v ELSE 0e0 END) AS dqc,
         CAST(sum(CASE WHEN arm = '1' THEN 1 ELSE 0 END) AS DOUBLE) AS dnt,
         sum(CASE WHEN arm = '1' THEN v ELSE 0e0 END) AS dst,
         sum(CASE WHEN arm = '1' THEN v * v ELSE 0e0 END) AS dqt
  FROM s WHERE arm IN ('0', '1') GROUP BY look),
cum AS (
  SELECT look,
         sum(dnc) OVER w AS nc, sum(dsc) OVER w AS sc,
         sum(dqc) OVER w AS qc,
         sum(dnt) OVER w AS nt, sum(dst) OVER w AS st,
         sum(dqt) OVER w AS qt
  FROM pl
  WINDOW w AS (ORDER BY look ROWS UNBOUNDED PRECEDING)),
m AS (
  SELECT look, nc, nt,
         st / nt - sc / nc AS diff,
         CASE WHEN nc > 1 AND nt > 1 THEN
           ((qc - nc * (sc / nc) * (sc / nc)) / (nc - 1)) / nc
           + ((qt - nt * (st / nt) * (st / nt)) / (nt - 1)) / nt
         END AS vn
  FROM cum),
l AS (
  SELECT look, nc, nt, diff,
         CASE WHEN vn > 0 THEN
           sqrt(vn / (vn + 100e0))
           * exp(diff * diff * 100e0 / (2e0 * vn * (vn + 100e0)))
         END AS lam
  FROM m),
p AS (
  SELECT look, nc, nt, diff, lam,
         min(least(1e0, coalesce(1e0 / lam, 1e0))) OVER (
           ORDER BY look ROWS UNBOUNDED PRECEDING) AS pav
  FROM l)
SELECT look,
       CAST(nc AS BIGINT) AS n_control,
       CAST(nt AS BIGINT) AS n_treatment,
       round(CASE WHEN nc > 0 AND nt > 0 THEN diff END, 6) AS diff,
       round(lam, 6) AS lambda_mixture,
       round(pav, 6) AS p_always_valid,
       pav <= 0.05e0 AS reject
FROM p
ORDER BY look
"""


def q_qte_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects of the user-parity split at the
    default five quantiles (operators/evaluation.py qte_readout): one
    exact interpolated percentile-vector aggregate per arm, reshaped
    row-locally — DuckDB's quantile_cont replays the interpolation
    bit-for-bit."""
    from knot_another_pipeline_spark.operators.evaluation import qte_readout

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    s = ev.select(
        (F.col("user_id") % 2).cast("string").alias("arm"),
        F.col("value").cast("double").alias("v"),
    )
    return qte_readout(
        s, arm_col="arm", value_col="v", control="0", treatment="1"
    )


ORACLE_QTE_READOUT = """
WITH s AS (
  SELECT CAST(user_id % 2 AS VARCHAR) AS arm, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL),
a AS (
  SELECT quantile_cont(CASE WHEN arm = '0' THEN v END,
                       [0.1e0, 0.25e0, 0.5e0, 0.75e0, 0.9e0]) AS qc,
         quantile_cont(CASE WHEN arm = '1' THEN v END,
                       [0.1e0, 0.25e0, 0.5e0, 0.75e0, 0.9e0]) AS qt
  FROM s WHERE arm IN ('0', '1')),
qs AS (
  SELECT * FROM (VALUES (1, 0.1e0), (2, 0.25e0), (3, 0.5e0),
                        (4, 0.75e0), (5, 0.9e0)) AS t(i, q))
SELECT qs.q AS q,
       round(a.qc[qs.i], 6) AS q_control,
       round(a.qt[qs.i], 6) AS q_treatment,
       round(a.qt[qs.i] - a.qc[qs.i], 6) AS qte
FROM a, qs
ORDER BY q
"""


def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding selection from the corpus's own similarity
    distribution (operators/dedup.py lsh_tuning): exact Jaccard on a
    30% hash-sample capped at 120 docs absolute (VERDICT r9 task #2 —
    the cap binds at sf0.01's ~150-doc sample, so the differential
    exercises it; at corpus scale it bounds the quadratic leg by
    construction), stop-shingle cap 100, S-curve expectations per
    (bands, rows) candidate from one broadcast-grid aggregate — the
    full corpus is never paired."""
    from knot_another_pipeline_spark.operators.dedup import lsh_tuning

    docs = load_table(spark, sf_dir, "documents")
    return lsh_tuning(
        docs,
        id_col="doc_id",
        text_col="text",
        threshold=0.5,
        sample_pct=30,
        max_sample_docs=120,
        shingle_n=3,
        max_doc_freq=100,
    )


ORACLE_LSH_TUNING = rf"""
WITH sampled AS (
  SELECT doc_id, text
  FROM documents
  WHERE {_hash64_pct_sql('doc_id', 1, 30)}
  ORDER BY {_hash64_sql('doc_id', 1)}, doc_id
  LIMIT 120),
toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x != '') AS t
  FROM sampled),
sh0 AS ({_SHINGLES_SQL}),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
sh AS (SELECT sh0.id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2),
pairs AS (
  SELECT CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS j
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b),
nd AS (SELECT CAST(count(DISTINCT id) AS DOUBLE) AS n FROM sh),
grid AS (
  SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2), (4, 8), (8, 4), (16, 4))
  AS t(b, r)),
sc AS (
  SELECT b, r,
         sum(CASE WHEN j >= 0.5e0 THEN 1 ELSE 0 END) AS n_true,
         sum(CASE WHEN j >= 0.5e0
                  THEN 1e0 - pow(1e0 - pow(j, r), b) ELSE 0e0 END) AS et,
         sum(CASE WHEN j < 0.5e0
                  THEN 1e0 - pow(1e0 - pow(j, r), b) ELSE 0e0 END) AS ef
  FROM pairs, grid GROUP BY b, r)
SELECT CAST(b AS BIGINT) AS bands,
       CAST(r AS BIGINT) AS rows_per_band,
       CAST(b * r AS BIGINT) AS sig_size,
       CAST(nd.n AS BIGINT) AS n_docs_sampled,
       CAST(n_true AS BIGINT) AS n_true_pairs,
       round(CASE WHEN n_true > 0 THEN et / n_true END, 6) AS est_recall,
       round(ef, 6) AS est_fp_candidates,
       round(CASE WHEN nd.n * (nd.n - 1) / 2e0 > 0
                  THEN (et + ef) / (nd.n * (nd.n - 1) / 2e0) END, 6)
         AS candidate_share
FROM sc, nd
ORDER BY bands, rows_per_band
"""


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch gate on the user-parity split
    (operators/quality.py srm_check): one count-by-arm aggregate,
    design ratios broadcast, chi-square on k rows with the
    Wilson–Hilferty p — the validity check in front of every
    experiment readout in the catalog."""
    from knot_another_pipeline_spark.operators.quality import srm_check

    ev = load_table(spark, sf_dir, "events")
    return srm_check(
        ev.select((F.col("user_id") % 2).cast("string").alias("arm")),
        arm_col="arm",
        expected={"0": 1.0, "1": 1.0},
    )


ORACLE_SRM_CHECK = f"""
WITH s AS (
  SELECT CAST(user_id % 2 AS VARCHAR) AS arm FROM events
  WHERE CAST(user_id % 2 AS VARCHAR) IN ('0', '1')),
e AS (SELECT * FROM (VALUES ('0', 0.5e0), ('1', 0.5e0)) AS t(arm, w)),
c AS (SELECT arm, CAST(count(*) AS DOUBLE) AS o FROM s GROUP BY arm),
j AS (
  SELECT e.arm, e.w, coalesce(c.o, 0e0) AS o
  FROM e LEFT JOIN c ON c.arm = e.arm),
tot AS (SELECT sum(o) AS n FROM j),
g AS (
  SELECT n, CAST(count(*) AS DOUBLE) AS k,
         sum((o - n * w) * (o - n * w) / (n * w)) AS chi2
  FROM j, tot GROUP BY n),
fin AS (
  SELECT n, k,
         CASE WHEN k >= 2 AND n > 0 THEN chi2 END AS c2,
         CASE WHEN k >= 2 THEN k - 1 END AS dof
  FROM g)
SELECT CAST(n AS BIGINT) AS n,
       CAST(k AS BIGINT) AS k_arms,
       round(c2, 6) AS chi2,
       CAST(dof AS BIGINT) AS df,
       round({_wh_chi2_p_sql('c2', 'dof')}, 6) AS p_value,
       coalesce({_wh_chi2_p_sql('c2', 'dof')} <= 0.001e0, FALSE)
         AS srm_detected
FROM fin
"""


def q_holm_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni FWER step-down over the same ~190
    per-(event_type, hour) weekend-vs-weekday z-tests as fdr_adjust
    (operators/quality.py holm_adjust): |z|-DESC ranking, running
    prefix MAX of p·(m−i+1), p from the ROUNDED z."""
    from knot_another_pipeline_spark.operators.quality import holm_adjust

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    wd = (
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        % 7
    )
    we = wd.isin(5, 6)
    v = F.col("value").cast("double")
    g = ev.groupBy(
        F.concat(
            F.col("event_type"), F.lit("@"), F.hour("ts").cast("string")
        ).alias("key")
    ).agg(
        F.sum(F.when(we, 1).otherwise(0)).cast("double").alias("n1"),
        F.sum(F.when(we, v).otherwise(0.0)).alias("s1"),
        F.sum(F.when(we, v * v).otherwise(0.0)).alias("ss1"),
        F.sum(F.when(~we, 1).otherwise(0)).cast("double").alias("n0"),
        F.sum(F.when(~we, v).otherwise(0.0)).alias("s0"),
        F.sum(F.when(~we, v * v).otherwise(0.0)).alias("ss0"),
    )
    m1, m0 = F.col("s1") / F.col("n1"), F.col("s0") / F.col("n0")
    v1 = F.col("ss1") / F.col("n1") - m1 * m1
    v0 = F.col("ss0") / F.col("n0") - m0 * m0
    se = F.sqrt(v1 / F.col("n1") + v0 / F.col("n0"))
    z = F.when(
        (F.col("n1") >= 2) & (F.col("n0") >= 2) & (se > 0), (m1 - m0) / se
    )
    tests = g.select("key", z.alias("z"))
    return holm_adjust(tests, key_col="key", z_col="z", alpha=0.05)


ORACLE_HOLM_ADJUST = f"""
WITH ev AS (
  SELECT event_type || '@' || CAST(hour(ts) AS VARCHAR) AS key,
         (datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7)
           IN (5, 6) AS we,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
g AS (
  SELECT key,
         CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         sum(CASE WHEN we THEN v ELSE 0.0e0 END) AS s1,
         sum(CASE WHEN we THEN v * v ELSE 0.0e0 END) AS ss1,
         CAST(sum(CASE WHEN NOT we THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
         sum(CASE WHEN NOT we THEN v ELSE 0.0e0 END) AS s0,
         sum(CASE WHEN NOT we THEN v * v ELSE 0.0e0 END) AS ss0
  FROM ev GROUP BY key),
zt AS (
  SELECT key,
         round(CASE WHEN n1 >= 2 AND n0 >= 2
                     AND sqrt((ss1 / n1 - (s1 / n1) * (s1 / n1)) / n1
                            + (ss0 / n0 - (s0 / n0) * (s0 / n0)) / n0) > 0
               THEN (s1 / n1 - s0 / n0)
                    / sqrt((ss1 / n1 - (s1 / n1) * (s1 / n1)) / n1
                         + (ss0 / n0 - (s0 / n0) * (s0 / n0)) / n0)
               END, 6) AS z
  FROM g),
d AS (SELECT key, z FROM zt WHERE z IS NOT NULL),
ranked AS (
  SELECT key, z,
         {_nsf2_sql('z')} AS p,
         row_number() OVER (ORDER BY abs(z) DESC, key ASC) AS rank,
         count(*) OVER () AS m
  FROM d)
SELECT key, z,
       round(p, 6) AS p_value,
       CAST(rank AS BIGINT) AS rank,
       round(max(least(1e0, p * (m - rank + 1))) OVER (
           ORDER BY rank ASC ROWS UNBOUNDED PRECEDING), 6) AS p_holm,
       max(least(1e0, p * (m - rank + 1))) OVER (
           ORDER BY rank ASC ROWS UNBOUNDED PRECEDING) <= 0.05e0
         AS reject
FROM ranked
ORDER BY rank
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: scan→pushed-filter→1-row aggregate, no join
    (operators/relational.py forecast_revenue)."""
    return relational.forecast_revenue(load_table(spark, sf_dir, "lineitem"))


ORACLE_FORECAST_REVENUE = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS forecast_revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-line revenue per customer for one
    order quarter, nation attached, top-20
    (operators/relational.py returned_revenue)."""
    return relational.returned_revenue(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
        k=20,
    )


ORACLE_RETURNED_REVENUE = """
WITH per_cust AS (
  -- decimal(18,4) accumulation mirrors the Spark side: exact,
  -- associative money sums that cannot flip a half-cent rounding
  -- boundary with summation order
  SELECT o_custkey,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY o_custkey)
SELECT c_custkey, c_name, revenue, c_acctbal, n_name
FROM per_cust
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_priority_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (linestatus stands in for the schema's missing
    l_shipmode): CASE-pivot of high- vs low-priority order counts per
    line status (operators/relational.py priority_linestatus)."""
    return relational.priority_linestatus(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


ORACLE_PRIORITY_LINESTATUS = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share of one ship month,
    part flag broadcast (operators/relational.py promo_revenue)."""
    return relational.promo_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


ORACLE_PROMO_REVENUE = """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0e0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
"""


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the undirected order<->part graph
    (operators/graph.py degree_assortativity): hubs-link-to-hubs vs
    hubs-link-to-leaves in one Pearson coefficient over edge-end
    degrees."""
    from knot_another_pipeline_spark.operators.graph import (
        degree_assortativity,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # packed numeric node ids (orders as-is, parts offset into a
    # disjoint range): every one of the three |E| shuffles carries the
    # key, and bigints shuffle ~3x lighter than "o:123" strings — the
    # probed-at-16x choice
    edges = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + F.lit(10**12)).alias("dst"),
    ).distinct()
    return degree_assortativity(edges, directed=False)


ORACLE_ASSORTATIVITY = """
WITH e0 AS (
  SELECT DISTINCT l_orderkey AS s,
         l_partkey + 1000000000000 AS d
  FROM lineitem),
e AS (SELECT s, d FROM e0 UNION ALL SELECT d AS s, s AS d FROM e0),
deg AS (SELECT s AS v, CAST(count(*) AS DOUBLE) AS dg FROM e GROUP BY s),
p AS (
  SELECT ds.dg AS x, dd.dg AS y
  FROM e JOIN deg ds ON e.s = ds.v JOIN deg dd ON e.d = dd.v),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM p)
SELECT n AS n_edges,
       round(CASE WHEN sxx - sx * sx / n > 0 AND syy - sy * sy / n > 0
                  THEN (sxy - sx * sy / n)
                       / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
             END, 6) AS assortativity
FROM m
"""


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the event-type transition graph — distinct
    (prev_type -> type) edges over each user's time-ordered event
    stream (operators/graph.py reciprocity): does A-then-B imply
    B-then-A somewhere in the corpus?"""
    from pyspark.sql import Window

    from knot_another_pipeline_spark.operators.graph import reciprocity

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select(
            F.col("prev_type").alias("src"), F.col("event_type").alias("dst")
        )
    )
    return reciprocity(edges)


ORACLE_RECIPROCITY = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
e AS (
  SELECT DISTINCT prev_type AS s, event_type AS d
  FROM seq WHERE prev_type IS NOT NULL AND prev_type <> event_type),
mut AS (
  SELECT count(*) AS n_reciprocal
  FROM e WHERE EXISTS (
    SELECT 1 FROM e r WHERE r.s = e.d AND r.d = e.s)),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
SELECT n_edges,
       CAST(n_reciprocal AS BIGINT) AS n_reciprocal,
       round(CASE WHEN n_edges > 0
                  THEN CAST(n_reciprocal AS DOUBLE) / n_edges END,
             6) AS reciprocity
FROM tot, mut
"""


def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box whiteness test per event_type over the time-ordered
    value series (operators/temporal.py ljung_box): one window pass +
    one aggregate, textbook ACF from moment sums, Wilson–Hilferty χ²
    p-value."""
    from knot_another_pipeline_spark.operators.temporal import ljung_box

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    return ljung_box(
        ev,
        series_col="event_type",
        order_col="ts",
        value_col="value",
        max_lag=5,
        tiebreak_col="event_id",
    )


def _ljung_box_oracle_sql(max_lag: int = 5) -> str:
    lag_cols = ",\n         ".join(
        f"lag(v, {k}) OVER w AS l{k}" for k in range(1, max_lag + 1)
    )
    mom = ",\n         ".join(
        f"sum(v * l{k}) AS sp{k},\n         "
        f"sum(CASE WHEN l{k} IS NOT NULL THEN v + l{k} END) AS se{k}"
        for k in range(1, max_lag + 1)
    )
    # n·ĉ_k = Σ x_t·x_{t−k} − x̄·Σ(x_t + x_{t−k}) + (n−k)·x̄²  — the
    # exact moment-sum identity the Spark operator reduces (coalesce
    # mirrors its treatment of lag-short series)
    terms = " + ".join(
        f"pow((coalesce(sp{k}, 0e0) - (sx / n) * coalesce(se{k}, 0e0)"
        f" + (n - {k}) * (sx / n) * (sx / n)) / c0, 2) / (n - {k})"
        for k in range(1, max_lag + 1)
    )
    return f"""
WITH s AS (
  SELECT event_type AS series, CAST(value AS DOUBLE) AS v, ts, event_id
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
lagd AS (
  SELECT series, v,
         {lag_cols}
  FROM s WINDOW w AS (PARTITION BY series ORDER BY ts, event_id)),
g AS (
  SELECT series, CAST(count(*) AS DOUBLE) AS n, sum(v) AS sx,
         sum(v * v) AS sxx,
         {mom}
  FROM lagd GROUP BY series),
c AS (SELECT *, sxx - n * (sx / n) * (sx / n) AS c0 FROM g),
q AS (
  SELECT series, n,
         CASE WHEN n > {max_lag} AND c0 > 0
              THEN n * (n + 2e0) * ({terms}) END AS q_stat
  FROM c)
SELECT series, CAST(n AS BIGINT) AS n,
       CAST({max_lag} AS INT) AS max_lag,
       round(q_stat, 6) AS q_stat,
       round({_wh_chi2_p_sql('q_stat', str(float(max_lag)))}, 6) AS p_value
FROM q
ORDER BY series
"""


ORACLE_LJUNG_BOX = _ljung_box_oracle_sql(5)


def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range Hurst exponent per event_type value series
    (operators/temporal.py hurst_exponent): trending vs mean-reverting
    in one number, blocks of 8/16/32/64, log-log least squares."""
    from knot_another_pipeline_spark.operators.temporal import (
        hurst_exponent,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    return hurst_exponent(
        ev,
        series_col="event_type",
        order_col="ts",
        value_col="value",
        scales=(8, 16, 32, 64),
        tiebreak_col="event_id",
    )


ORACLE_HURST_EXPONENT = """
WITH s0 AS (
  SELECT event_type AS series, CAST(value AS DOUBLE) AS v,
         row_number() OVER (
           PARTITION BY event_type ORDER BY ts, event_id) - 1 AS idx
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
expl AS (
  SELECT series, v, idx, sc.scale,
         CAST(floor(idx / sc.scale) AS BIGINT) AS blk
  FROM s0, (SELECT unnest([8, 16, 32, 64]) AS scale) sc),
scored AS (
  SELECT series, scale, blk,
         sum(v) OVER wb AS run,
         row_number() OVER wb AS pos,
         count(*) OVER wall AS cnt,
         sum(v) OVER wall AS bsum,
         sum(v * v) OVER wall AS bsq
  FROM expl
  WINDOW wb AS (PARTITION BY series, scale, blk ORDER BY idx
                ROWS UNBOUNDED PRECEDING),
         wall AS (PARTITION BY series, scale, blk)),
blocks AS (
  SELECT series, scale, blk,
         max(run - pos * bsum / cnt) - min(run - pos * bsum / cnt) AS r,
         sqrt(max(bsq) / max(cnt)
              - (max(bsum) / max(cnt)) * (max(bsum) / max(cnt))) AS s
  FROM scored WHERE cnt = scale
  GROUP BY series, scale, blk),
per_scale AS (
  SELECT series, scale, avg(r / s) AS rs
  FROM blocks WHERE s > 0
  GROUP BY series, scale),
fit AS (
  SELECT series, CAST(count(*) AS DOUBLE) AS k,
         sum(ln(scale)) AS su, sum(ln(rs)) AS sv,
         sum(ln(scale) * ln(scale)) AS suu,
         sum(ln(scale) * ln(rs)) AS suv
  FROM per_scale WHERE rs > 0
  GROUP BY series),
n_per AS (SELECT series, CAST(count(*) AS BIGINT) AS n FROM s0 GROUP BY series)
SELECT n_per.series, n,
       CAST(coalesce(k, 0) AS INT) AS n_scales,
       round(CASE WHEN k >= 2 AND suu - su * su / k > 0
                  THEN (suv - su * sv / k) / (suu - su * su / k)
             END, 6) AS hurst
FROM n_per LEFT JOIN fit ON n_per.series = fit.series
ORDER BY n_per.series
"""


def q_delong_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC with DeLong SE + 95% CI per weekday segment
    (operators/evaluation.py delong_auc): the same scorer as
    q_auc_scores, now with the error bar — placements from two rank
    windows, never the O(n+·n-) pairwise join."""
    from knot_another_pipeline_spark.operators.evaluation import delong_auc

    events = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = events.select(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).cast("int").alias("wd"),
        (F.col("value") / 491.0).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return delong_auc(
        s, group_cols=["wd"], score_col="score", label_col="y"
    )


ORACLE_DELONG_AUC = """
WITH s AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS INT) AS wd,
         CAST(value AS DOUBLE) / 491.0 AS sc,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
r AS (
  SELECT wd, y,
         rank() OVER (PARTITION BY wd ORDER BY sc)
           + (count(*) OVER (PARTITION BY wd, sc) - 1) / 2.0 AS pr,
         rank() OVER (PARTITION BY wd, y ORDER BY sc)
           + (count(*) OVER (PARTITION BY wd, y, sc) - 1) / 2.0 AS wr
  FROM s),
a AS (
  SELECT wd, CAST(sum(y) AS BIGINT) AS n_pos,
         CAST(sum(1 - y) AS BIGINT) AS n_neg,
         sum(CASE WHEN y = 1 THEN pr - wr END) AS d1,
         sum(CASE WHEN y = 1 THEN (pr - wr) * (pr - wr) END) AS d1sq,
         sum(CASE WHEN y = 0 THEN pr - wr END) AS d0,
         sum(CASE WHEN y = 0 THEN (pr - wr) * (pr - wr) END) AS d0sq
  FROM r GROUP BY 1),
m AS (
  SELECT wd, n_pos, n_neg,
         CASE WHEN n_pos > 0 AND n_neg > 0
              THEN d1 / (n_pos * n_neg) END AS auc,
         CASE WHEN n_pos >= 2 AND n_neg >= 2
               AND (d1sq - d1 * d1 / n_pos) / (n_pos - 1)
                   / (n_neg * n_neg) / n_pos
                 + (d0sq - d0 * d0 / n_neg) / (n_neg - 1)
                   / (n_pos * n_pos) / n_neg >= 0
              THEN sqrt((d1sq - d1 * d1 / n_pos) / (n_pos - 1)
                        / (n_neg * n_neg) / n_pos
                      + (d0sq - d0 * d0 / n_neg) / (n_neg - 1)
                        / (n_pos * n_pos) / n_neg) END AS se
  FROM a)
SELECT wd, n_pos, n_neg,
       round(auc, 6) AS auc,
       round(se, 6) AS se,
       round(greatest(0e0, auc - 1.959963984540054e0 * se), 6) AS ci_lo,
       round(least(1e0, auc + 1.959963984540054e0 * se), 6) AS ci_hi
FROM m
"""


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over synthetic multi-annotator labels — each
    document's ratings are its hour-bucketed event neighbors' types
    (operators/quality.py fleiss_kappa): items = (user, day) sessions,
    ratings = that session's event types."""
    from knot_another_pipeline_spark.operators.quality import fleiss_kappa

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    rated = ev.select(
        F.concat(
            F.col("user_id").cast("string"),
            F.lit("@"),
            F.col("ts").cast("date").cast("string"),
        ).alias("item"),
        F.col("event_type").alias("label"),
    )
    return fleiss_kappa(rated, item_col="item", label_col="label")


ORACLE_FLEISS_KAPPA = """
WITH base AS (
  SELECT user_id || '@' || CAST(CAST(ts AS DATE) AS VARCHAR) AS i,
         event_type AS c
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
cells AS (
  SELECT i, c, CAST(count(*) AS DOUBLE) AS n FROM base GROUP BY i, c),
items AS (
  SELECT i, sum(n) AS ni, sum(n * n) AS agree
  FROM cells GROUP BY i HAVING sum(n) >= 2),
pbar AS (
  SELECT CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(ni) AS BIGINT) AS n_ratings,
         avg((agree - ni) / (ni * (ni - 1))) AS pb
  FROM items),
shares AS (
  SELECT c, sum(n) AS nc
  FROM cells JOIN items USING (i) GROUP BY c),
pe AS (
  SELECT CAST(count(*) AS BIGINT) AS k_categories,
         sum(nc * nc) / (sum(nc) * sum(nc)) AS pv
  FROM shares)
SELECT n_items, n_ratings, k_categories,
       round(CASE WHEN n_items > 0 THEN pb END, 6) AS p_bar,
       round(CASE WHEN n_items > 0 THEN pv END, 6) AS p_e,
       round(CASE WHEN n_items > 0 AND pv < 1
                  THEN (pb - pv) / (1 - pv) END, 6) AS kappa
FROM pbar, pe
"""


def q_energy_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D energy distance per event_type between the first and
    second half of the event window (operators/quality.py
    energy_drift): the whole-shape drift statistic PSI's bins and KS's
    max-gap both approximate, from one pooled-sort window pass."""
    from knot_another_pipeline_spark.operators.quality import energy_drift

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    cut = F.lit("2024-01-16").cast("timestamp")
    tagged = ev.select(
        F.col("event_type"),
        F.col("value"),
        F.when(F.col("ts") < cut, F.lit("base"))
        .otherwise(F.lit("cur"))
        .alias("half"),
    )
    return energy_drift(
        tagged,
        value_col="value",
        sample_col="half",
        baseline="base",
        current="cur",
        group_cols=["event_type"],
    )


ORACLE_ENERGY_DRIFT = """
WITH s AS (
  SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
         CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1
         END AS grp
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
scored AS (
  SELECT g, v, grp,
         coalesce(sum(CASE WHEN grp = 0 THEN 1e0 ELSE 0e0 END)
                  OVER w, 0e0) AS cb,
         coalesce(sum(CASE WHEN grp = 0 THEN v ELSE 0e0 END)
                  OVER w, 0e0) AS sb,
         coalesce(sum(CASE WHEN grp = 1 THEN 1e0 ELSE 0e0 END)
                  OVER w, 0e0) AS cc,
         coalesce(sum(CASE WHEN grp = 1 THEN v ELSE 0e0 END)
                  OVER w, 0e0) AS sc
  FROM s
  WINDOW w AS (PARTITION BY g ORDER BY v, grp
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
agg AS (
  SELECT g,
         CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_base,
         CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cur,
         sum(CASE WHEN grp = 0 THEN cc * v - sc
                  ELSE cb * v - sb END) AS x,
         sum(CASE WHEN grp = 0 THEN cb * v - sb ELSE 0e0 END) AS wb,
         sum(CASE WHEN grp = 1 THEN cc * v - sc ELSE 0e0 END) AS wc
  FROM scored GROUP BY g)
SELECT g AS event_type, n_base, n_cur,
       round(CASE WHEN n_base > 0 AND n_cur > 0
                  THEN x / (CAST(n_base AS DOUBLE) * n_cur) END, 6)
         AS e_cross,
       round(CASE WHEN n_base > 0
                  THEN 2e0 * wb / (CAST(n_base AS DOUBLE) * n_base) END, 6)
         AS e_within_base,
       round(CASE WHEN n_cur > 0
                  THEN 2e0 * wc / (CAST(n_cur AS DOUBLE) * n_cur) END, 6)
         AS e_within_cur,
       round(CASE WHEN n_base > 0 AND n_cur > 0
                  THEN 2e0 * x / (CAST(n_base AS DOUBLE) * n_cur)
                     - 2e0 * wb / (CAST(n_base AS DOUBLE) * n_base)
                     - 2e0 * wc / (CAST(n_cur AS DOUBLE) * n_cur) END, 6)
         AS energy_distance
FROM agg
ORDER BY event_type
"""


def q_twonn_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN intrinsic dimension of the embedding column per label
    (operators/similarity.py twonn_dimension): is the 64-wide vector
    really 64-dimensional?  Exact-2NN feeder at bench size; the MLE
    reduces any k=2 neighbor table at scale."""
    from knot_another_pipeline_spark.operators.similarity import (
        twonn_dimension,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    return twonn_dimension(emb, group_cols=["label"])


ORACLE_TWONN_DIM = """
WITH e AS (
  SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
pairs AS (
  SELECT a.label, a.vec_id AS qid, b.vec_id AS nid,
         greatest(0e0,
                  list_dot_product(a.v, a.v) + list_dot_product(b.v, b.v)
                  - 2e0 * list_dot_product(a.v, b.v)) AS d2
  FROM e a JOIN e b ON a.label = b.label AND a.vec_id != b.vec_id),
ranked AS (
  SELECT label, qid, d2,
         row_number() OVER (PARTITION BY label, qid
                            ORDER BY d2 ASC, nid ASC) AS rk
  FROM pairs),
top2 AS (
  SELECT label, qid,
         min(CASE WHEN rk = 1 THEN d2 END) AS r1sq,
         min(CASE WHEN rk = 2 THEN d2 END) AS r2sq
  FROM ranked WHERE rk <= 2
  GROUP BY label, qid
  HAVING min(CASE WHEN rk = 1 THEN d2 END) IS NOT NULL
     AND min(CASE WHEN rk = 2 THEN d2 END) IS NOT NULL),
mu AS (
  SELECT label,
         CASE WHEN r1sq > 0 THEN ln(r2sq / r1sq) / 2e0 END AS lnmu
  FROM top2),
agg AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_points,
         CAST(count(lnmu) AS BIGINT) AS n_used,
         sum(lnmu) AS slm
  FROM mu GROUP BY label),
groups AS (SELECT DISTINCT label FROM e)
SELECT g.label,
       CAST(COALESCE(a.n_points, 0) AS BIGINT) AS n_points,
       CAST(COALESCE(a.n_used, 0) AS BIGINT) AS n_used,
       round(CASE WHEN a.n_used > 0 AND a.slm > 0
                  THEN CAST(a.n_used AS DOUBLE) / a.slm END, 6)
         AS intrinsic_dim
FROM groups g LEFT JOIN agg a ON g.label = a.label
ORDER BY g.label
"""


def q_smd_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted covariate balance (standardized mean differences)
    between weekend and weekday event populations
    (operators/evaluation.py smd_balance): value and hour-of-day as
    covariates, a deterministic user-keyed Hájek weight."""
    from knot_another_pipeline_spark.operators.evaluation import smd_balance

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    tagged = ev.select(
        F.when(
            (
                F.datediff(
                    F.col("ts").cast("date"),
                    F.lit("2024-01-01").cast("date"),
                )
                % 7
            ).isin(5, 6),
            F.lit("weekend"),
        )
        .otherwise(F.lit("weekday"))
        .alias("arm"),
        F.col("value").cast("double").alias("value"),
        F.hour("ts").cast("double").alias("hour_of_day"),
        (1.0 + (F.col("user_id") % 3) * 0.5).alias("w"),
    )
    return smd_balance(
        tagged,
        arm_col="arm",
        treatment="weekend",
        control="weekday",
        covariate_cols=["value", "hour_of_day"],
        weight_col="w",
    )


ORACLE_SMD_BALANCE = """
WITH ev AS (
  SELECT CASE WHEN (datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    % 7) IN (5, 6)
              THEN 'weekend' ELSE 'weekday' END AS arm,
         CAST(value AS DOUBLE) AS value,
         CAST(hour(ts) AS DOUBLE) AS hour_of_day,
         1.0e0 + (user_id % 3) * 0.5e0 AS w
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
long AS (
  SELECT arm, w, 'value' AS covariate, value AS x FROM ev
  UNION ALL
  SELECT arm, w, 'hour_of_day' AS covariate, hour_of_day AS x FROM ev),
m AS (
  SELECT covariate,
         CAST(sum(CASE WHEN arm = 'weekend' AND x IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
         CAST(sum(CASE WHEN arm = 'weekday' AND x IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
         sum(CASE WHEN arm = 'weekend' AND x IS NOT NULL THEN w END) AS wt,
         sum(CASE WHEN arm = 'weekend' THEN w * x END) AS wxt,
         sum(CASE WHEN arm = 'weekend' THEN w * x * x END) AS wxxt,
         sum(CASE WHEN arm = 'weekday' AND x IS NOT NULL THEN w END) AS wc,
         sum(CASE WHEN arm = 'weekday' THEN w * x END) AS wxc,
         sum(CASE WHEN arm = 'weekday' THEN w * x * x END) AS wxxc
  FROM long GROUP BY covariate),
s AS (
  SELECT covariate, n_treat, n_control,
         wxt / wt AS mt, wxc / wc AS mc,
         wxxt / wt - (wxt / wt) * (wxt / wt) AS vt,
         wxxc / wc - (wxc / wc) * (wxc / wc) AS vc
  FROM m)
SELECT covariate, n_treat, n_control,
       round(mt, 6) AS mean_treat,
       round(mc, 6) AS mean_control,
       round(CASE WHEN sqrt((vt + vc) / 2e0) > 0
                  THEN (mt - mc) / sqrt((vt + vc) / 2e0) END, 6) AS smd,
       abs(CASE WHEN sqrt((vt + vc) / 2e0) > 0
                THEN (mt - mc) / sqrt((vt + vc) / 2e0) END) <= 0.1e0
         AS balanced
FROM s
ORDER BY covariate
"""


# ---------------------------------------------------------------------------
# round-10 additions


_DAILY_COUNT_SERIES_SQL = """
  SELECT event_type AS series,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS INTEGER) AS ord,
         CAST(count(*) AS DOUBLE) AS y
  FROM events
  WHERE ts IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)
"""


def _daily_count_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event-count series per type with an INTEGER day index —
    counts (exact in doubles) rather than value means, so every
    downstream comparison/rank is bit-identical across engines."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return ev.groupBy(
        F.col("event_type").alias("series"), F.to_date("ts").alias("_day")
    ).agg(F.count(F.lit(1)).cast("double").alias("y")).select(
        "series",
        F.datediff(F.col("_day"), F.lit("2024-01-01").cast("date"))
        .cast("int")
        .alias("ord"),
        "y",
    )


def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift detection on daily event volumes per type
    (operators/temporal.py page_hinkley): three stacked cumulative
    windows over one (series, day) shuffle; alarms where the
    running-mean deviation exceeds lambda=25."""
    from knot_another_pipeline_spark.operators.temporal import page_hinkley

    return page_hinkley(
        _daily_count_series(spark, sf_dir),
        series_col="series", order_col="ord", value_col="y",
        delta=0.0, lam=25.0,
    )


ORACLE_PAGE_HINKLEY = f"""
WITH daily AS ({_DAILY_COUNT_SERIES_SQL}),
staged AS (
  SELECT series, ord, y,
         avg(y) OVER (PARTITION BY series ORDER BY ord
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS rmean
  FROM daily),
cum AS (
  SELECT series, ord,
         sum(y - rmean - 0e0) OVER (PARTITION BY series ORDER BY ord
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM staged),
ph AS (
  SELECT series, ord,
         m - min(m) OVER (PARTITION BY series ORDER BY ord
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
  FROM cum)
SELECT series,
       CAST(count(*) AS BIGINT) AS n,
       round(max(ph), 6) AS max_ph,
       CAST(sum(CASE WHEN ph > 25e0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       min(CASE WHEN ph > 25e0 THEN ord END) AS first_alarm_ord,
       max(CASE WHEN ph > 25e0 THEN 1 ELSE 0 END) = 1 AS drift
FROM ph GROUP BY series ORDER BY series
"""


def q_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root t-stat of daily event volumes per type
    (operators/temporal.py dickey_fuller): one lag window, then the
    closed-form OLS of the differences on the lagged level from six
    moment sums in one hash aggregate."""
    from knot_another_pipeline_spark.operators.temporal import dickey_fuller

    return dickey_fuller(
        _daily_count_series(spark, sf_dir),
        series_col="series", order_col="ord", value_col="y",
    )


ORACLE_DICKEY_FULLER = f"""
WITH daily AS ({_DAILY_COUNT_SERIES_SQL}),
lagged AS (
  SELECT series, y,
         lag(y) OVER (PARTITION BY series ORDER BY ord) AS ylag
  FROM daily),
pairs AS (
  SELECT series, ylag AS x, y - ylag AS d
  FROM lagged WHERE ylag IS NOT NULL),
a0 AS (
  SELECT series, CAST(count(*) AS DOUBLE) AS n,
         sum(x) AS sx, sum(d) AS sd,
         sum(x * x) AS sxx, sum(d * d) AS sdd, sum(x * d) AS sxd
  FROM pairs GROUP BY series),
a AS (
  -- single-point series have no lag pair: re-attach from the series
  -- list so they emit (n_diffs=0, NULL stats), mirroring the operator
  SELECT b.series, coalesce(a0.n, 0e0) AS n, a0.sx, a0.sd,
         a0.sxx, a0.sdd, a0.sxd
  FROM (SELECT DISTINCT series FROM daily) b
  LEFT JOIN a0 ON a0.series = b.series),
m AS (
  SELECT series, n,
         sxx - sx * sx / n AS cxx,
         sdd - sd * sd / n AS cdd,
         sxd - sx * sd / n AS cxd
  FROM a),
f AS (
  SELECT series, n, cxx,
         cxd / cxx AS gamma,
         cdd - (cxd / cxx) * cxd AS rss
  FROM m),
t AS (
  SELECT series, n, gamma,
         CASE WHEN n >= 3 AND cxx > 0
                   AND sqrt(rss / (n - 2e0) / cxx) > 0
              THEN gamma / sqrt(rss / (n - 2e0) / cxx) END AS t_stat,
         n >= 3 AND cxx > 0 AS ok
  FROM f)
SELECT series, CAST(n AS BIGINT) AS n_diffs,
       round(CASE WHEN ok THEN gamma END, 6) AS gamma,
       round(t_stat, 6) AS t_stat,
       t_stat < -2.86e0 AS stationary_5pct
FROM t ORDER BY series
"""


def q_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral entropy of hourly event volumes per type over the
    6h/12h/24h/168h candidate grid (operators/temporal.py
    spectral_entropy): the periodogram trig-sum aggregate, powers
    floored at 1e-20 of the n^2*var scale, entropy over the gated
    power distribution."""
    from knot_another_pipeline_spark.operators.temporal import (
        spectral_entropy,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hourly = ev.groupBy(
        F.col("event_type").alias("series"),
        (
            F.floor(
                (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(
                        F.lit("2024-01-01 00:00:00").cast("timestamp")
                    )
                )
                / F.lit(3600000000)
            )
        ).alias("t"),
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    return spectral_entropy(
        hourly,
        series_col="series", t_col="t", value_col="y",
        periods=[6.0, 12.0, 24.0, 168.0],
    )


ORACLE_SPECTRAL_ENTROPY = """
WITH hourly AS (
  SELECT event_type AS series,
         CAST(floor(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                         - epoch_us(TIMESTAMP '2024-01-01 00:00:00'
                         ) AS DOUBLE) / 3600000000e0) AS DOUBLE) AS t,
         CAST(count(*) AS DOUBLE) AS y
  FROM events WHERE ts IS NOT NULL
  GROUP BY event_type,
           floor(CAST(epoch_us(CAST(ts AS TIMESTAMP))
                      - epoch_us(TIMESTAMP '2024-01-01 00:00:00'
                      ) AS DOUBLE) / 3600000000e0)),
per AS (SELECT unnest([6e0, 12e0, 24e0, 168e0]) AS period),
g AS (
  SELECT series, period,
         CAST(count(*) AS DOUBLE) AS n,
         sum(y) AS sy, sum(y * y) AS syy,
         sum(y * cos(2e0 * pi() * t / period)) AS yc,
         sum(y * sin(2e0 * pi() * t / period)) AS ys,
         sum(cos(2e0 * pi() * t / period)) AS c,
         sum(sin(2e0 * pi() * t / period)) AS s
  FROM hourly, per GROUP BY series, period),
m AS (
  SELECT series, period, n,
         syy / n - (sy / n) * (sy / n) AS var,
         yc - (sy / n) * c AS cc,
         ys - (sy / n) * s AS ss
  FROM g),
p AS (
  SELECT series, period, n,
         CASE WHEN var > 0
                   AND (cc * cc + ss * ss) > n * n * var * 1e-20
              THEN cc * cc + ss * ss ELSE 0e0 END AS pw
  FROM m),
e AS (
  SELECT series, CAST(max(n) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pw > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_active,
         sum(pw) AS tot,
         sum(CASE WHEN pw > 0 THEN pw * ln(pw) ELSE 0e0 END) AS plnp,
         min(CASE WHEN pw > 0
                  THEN struct_pack(negp := -pw, per := period) END) AS dom
  FROM p GROUP BY series)
SELECT series, n, n_active,
       round(CASE WHEN tot > 0
                  THEN (ln(tot) - plnp / tot) / ln(4e0) END, 6)
         AS spectral_entropy,
       dom.per AS dominant_period
FROM e ORDER BY series
"""


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily event volumes per type
    (operators/temporal.py runs_test): exact median per series, signs
    about it, run boundaries from one lag window."""
    from knot_another_pipeline_spark.operators.temporal import runs_test

    return runs_test(
        _daily_count_series(spark, sf_dir),
        series_col="series", order_col="ord", value_col="y",
    )


ORACLE_RUNS_TEST = f"""
WITH daily AS ({_DAILY_COUNT_SERIES_SQL}),
med AS (
  SELECT series, quantile_cont(y, 0.5) AS med FROM daily GROUP BY series),
signed AS (
  SELECT d.series, d.ord,
         CASE WHEN d.y > m.med THEN 1 ELSE 0 END AS sgn
  FROM daily d JOIN med m ON m.series = d.series
  WHERE d.y != m.med),
runs AS (
  SELECT series, sgn,
         CASE WHEN lag(sgn) OVER (PARTITION BY series ORDER BY ord)
                   IS DISTINCT FROM sgn THEN 1 ELSE 0 END AS brk
  FROM signed),
agg0 AS (
  SELECT series,
         CAST(sum(sgn) AS DOUBLE) AS n1,
         CAST(sum(1 - sgn) AS DOUBLE) AS n2,
         CAST(sum(brk) AS DOUBLE) AS r
  FROM runs GROUP BY series),
agg AS (
  -- med covers EVERY series; agg0 only series with an off-median
  -- value -- left-join so an all-at-median series still emits a row
  SELECT m.series, coalesce(a.n1, 0e0) AS n1,
         coalesce(a.n2, 0e0) AS n2, coalesce(a.r, 0e0) AS r
  FROM med m LEFT JOIN agg0 a ON a.series = m.series),
zc AS (
  SELECT series, n1, n2, r,
         CASE WHEN n1 > 0 AND n2 > 0
                   AND 2e0*n1*n2*(2e0*n1*n2 - n1 - n2)
                       / ((n1+n2)*(n1+n2)*(n1+n2-1e0)) > 0
              THEN (r - (2e0*n1*n2/(n1+n2) + 1e0))
                   / sqrt(2e0*n1*n2*(2e0*n1*n2 - n1 - n2)
                          / ((n1+n2)*(n1+n2)*(n1+n2-1e0))) END AS z
  FROM agg)
SELECT series,
       CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS runs,
       round(z, 6) AS z,
       round({_nsf2_sql('z')}, 6) AS p_value
FROM zc ORDER BY series
"""


def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal/trend strength of daily event volumes per
    type at period 7 (operators/temporal.py seasonal_strength): one
    centered-MA row window, one phase-mean window, one variance
    aggregate."""
    from knot_another_pipeline_spark.operators.temporal import (
        seasonal_strength,
    )

    return seasonal_strength(
        _daily_count_series(spark, sf_dir),
        series_col="series", order_col="ord", value_col="y", period=7,
    )


ORACLE_SEASONAL_STRENGTH = f"""
WITH daily AS ({_DAILY_COUNT_SERIES_SQL}),
detr AS (
  SELECT series, ord, y,
         y - avg(y) OVER (PARTITION BY series ORDER BY ord
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS dt,
         ord % 7 AS phase
  FROM daily),
comp AS (
  SELECT series, y, dt,
         dt - avg(dt) OVER (PARTITION BY series, phase) AS rem,
         avg(dt) OVER (PARTITION BY series, phase) AS seas
  FROM detr),
v AS (
  SELECT series, CAST(count(*) AS BIGINT) AS n,
         var_pop(rem) AS vr, var_pop(dt) AS vd,
         var_pop(y - seas) AS vt
  FROM comp GROUP BY series)
SELECT series, n,
       round(CASE WHEN vd > 0
                  THEN greatest(0e0, 1e0 - vr / vd) END, 6)
         AS seasonal_strength,
       round(CASE WHEN vt > 0
                  THEN greatest(0e0, 1e0 - vr / vt) END, 6)
         AS trend_strength
FROM v ORDER BY series
"""


def q_wilcoxon_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank per event type: each user's morning
    (hour < 12) vs evening mean value as the pair
    (operators/quality.py wilcoxon_signed_rank).  Both sides rounded
    to 6 decimals BEFORE the test so rank/tie decisions are
    bit-identical across engines."""
    from knot_another_pipeline_spark.operators.quality import (
        wilcoxon_signed_rank,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    per = (
        ev.groupBy(F.col("event_type").alias("fam"), "user_id")
        .agg(
            F.round(
                F.avg(F.when(F.hour("ts") < 12, F.col("value"))), 6
            ).alias("a"),
            F.round(
                F.avg(F.when(F.hour("ts") >= 12, F.col("value"))), 6
            ).alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
    )
    return wilcoxon_signed_rank(per, group_cols=["fam"], a_col="a", b_col="b")


ORACLE_WILCOXON_PAIRS = f"""
WITH per AS (
  SELECT event_type AS fam, user_id,
         round(avg(CASE WHEN hour(ts) < 12 THEN value END), 6) AS a,
         round(avg(CASE WHEN hour(ts) >= 12 THEN value END), 6) AS b
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2),
d AS (
  SELECT fam, a - b AS d FROM per
  WHERE a IS NOT NULL AND b IS NOT NULL),
nz AS (SELECT fam, d, abs(d) AS ad FROM d WHERE d != 0),
ranked AS (
  SELECT fam, d,
         rank() OVER (PARTITION BY fam ORDER BY ad)
           + (CAST(count(*) OVER (PARTITION BY fam, ad) AS DOUBLE) - 1)
             / 2e0 AS r
  FROM nz),
ties AS (
  SELECT fam, sum(t * t * t - t) AS tie3 FROM (
    SELECT fam, ad, CAST(count(*) AS DOUBLE) AS t FROM nz GROUP BY 1, 2)
  GROUP BY fam),
agg AS (
  SELECT fam, CAST(count(*) AS DOUBLE) AS n,
         sum(CASE WHEN d > 0 THEN r ELSE 0e0 END) AS wp
  FROM ranked GROUP BY fam),
zeros AS (
  SELECT fam,
         CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM d GROUP BY fam),
zc AS (
  -- zeros covers EVERY family; agg/ties only families with a nonzero
  -- diff — left-join so an all-tied family still emits a degenerate
  -- row (the operator's contract)
  SELECT z.fam, coalesce(a.n, 0e0) AS n, coalesce(a.wp, 0e0) AS wp,
         z.n_zero,
         CASE WHEN a.n > 0
                   AND a.n*(a.n+1e0)*(2e0*a.n+1e0)/24e0 - t.tie3/48e0 > 0
              THEN (a.wp - a.n*(a.n+1e0)/4e0)
                   / sqrt(a.n*(a.n+1e0)*(2e0*a.n+1e0)/24e0 - t.tie3/48e0)
              END AS z
  FROM zeros z
  LEFT JOIN agg a ON a.fam = z.fam
  LEFT JOIN ties t ON t.fam = z.fam)
SELECT fam, CAST(n AS BIGINT) AS n_pairs, n_zero,
       round(wp, 6) AS w_plus,
       round(z, 6) AS z,
       round({_nsf2_sql('z')}, 6) AS p_value
FROM zc ORDER BY fam
"""


def q_friedman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test per day-kind family (weekday vs weekend): blocks
    are 30 user buckets, treatments the event types, cell values the
    bucket's mean event value rounded to 6 decimals before ranking
    (operators/quality.py friedman_test)."""
    from knot_another_pipeline_spark.operators.quality import friedman_test

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    cells = ev.groupBy(
        F.when(
            (
                F.datediff(
                    F.col("ts").cast("date"),
                    F.lit("2024-01-01").cast("date"),
                )
                % 7
            ).isin(5, 6),
            F.lit("weekend"),
        )
        .otherwise(F.lit("weekday"))
        .alias("fam"),
        F.pmod(F.col("user_id"), F.lit(30)).alias("blk"),
        F.col("event_type").alias("trt"),
    ).agg(F.round(F.avg("value"), 6).alias("v"))
    return friedman_test(
        cells, group_cols=["fam"], block_col="blk", treatment_col="trt",
        value_col="v",
    )


ORACLE_FRIEDMAN_RANK = f"""
WITH cells AS (
  SELECT CASE WHEN (datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    % 7) IN (5, 6)
              THEN 'weekend' ELSE 'weekday' END AS fam,
         CAST(user_id % 30 AS VARCHAR) AS blk,
         event_type AS trt,
         round(avg(value), 6) AS v
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
  GROUP BY 1, 2, 3),
kf AS (SELECT fam, CAST(count(DISTINCT trt) AS DOUBLE) AS k
       FROM cells GROUP BY fam),
bs AS (SELECT fam, blk, CAST(count(*) AS DOUBLE) AS bn
       FROM cells GROUP BY fam, blk),
complete AS (
  SELECT b.fam, b.blk FROM bs b JOIN kf ON kf.fam = b.fam
  WHERE b.bn = kf.k),
ninc AS (
  SELECT b.fam,
         CAST(sum(CASE WHEN b.bn != kf.k THEN 1 ELSE 0 END) AS BIGINT)
           AS n_incomplete
  FROM bs b JOIN kf ON kf.fam = b.fam GROUP BY b.fam),
kept AS (
  SELECT c.* FROM cells c SEMI JOIN complete p
    ON p.fam = c.fam AND p.blk = c.blk),
ranked AS (
  SELECT fam, blk, trt, v,
         rank() OVER (PARTITION BY fam, blk ORDER BY v)
           + (CAST(count(*) OVER (PARTITION BY fam, blk, v) AS DOUBLE)
              - 1) / 2e0 AS r
  FROM kept),
pt AS (SELECT fam, trt, sum(r) AS rj FROM ranked GROUP BY fam, trt),
famagg AS (
  SELECT fam, CAST(count(*) AS DOUBLE) AS kk, sum(rj * rj) AS rr
  FROM pt GROUP BY fam),
nb AS (SELECT fam, CAST(count(DISTINCT blk) AS DOUBLE) AS n
       FROM ranked GROUP BY fam),
tc AS (
  SELECT fam, sum(t * t * t - t) AS tie3 FROM (
    SELECT fam, blk, v, CAST(count(*) AS DOUBLE) AS t
    FROM ranked GROUP BY fam, blk, v)
  GROUP BY fam),
q AS (
  -- ninc/kf cover EVERY family; famagg/nb/tc only families with a
  -- complete block -- left-join so an all-incomplete family still
  -- emits a degenerate row (the operator's contract)
  SELECT ninc.fam, coalesce(nb.n, 0e0) AS n, ninc.n_incomplete, kf.k,
         CASE WHEN kf.k >= 2 AND nb.n > 0
                   AND 1e0 - tc.tie3 / (nb.n * kf.k * (kf.k*kf.k - 1e0)) > 0
              THEN (12e0 / (nb.n * kf.k * (kf.k + 1e0)) * f.rr
                    - 3e0 * nb.n * (kf.k + 1e0))
                   / (1e0 - tc.tie3 / (nb.n * kf.k * (kf.k*kf.k - 1e0)))
              END AS qc
  FROM ninc
  JOIN kf ON kf.fam = ninc.fam
  LEFT JOIN famagg f ON f.fam = ninc.fam
  LEFT JOIN nb ON nb.fam = ninc.fam
  LEFT JOIN tc ON tc.fam = ninc.fam)
SELECT fam, CAST(n AS BIGINT) AS n_blocks, n_incomplete,
       CAST(k AS BIGINT) AS k_treatments,
       round(qc, 6) AS q_corrected,
       CAST(k - 1 AS BIGINT) AS df,
       round({_wh_chi2_p_sql('qc', '(k - 1e0)')}, 6) AS p_value
FROM q ORDER BY fam
"""


def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test per order year: do the order-priority
    classes sit differently around the year's median total price
    (operators/quality.py mood_median)."""
    from knot_another_pipeline_spark.operators.quality import mood_median

    od = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    s = od.select(
        F.year("o_orderdate").cast("string").alias("yr"),
        F.col("o_orderpriority").alias("prio"),
        F.col("o_totalprice").alias("price"),
    )
    return mood_median(
        s, group_cols=["yr"], value_col="price", class_col="prio"
    )


ORACLE_MOOD_MEDIAN = f"""
WITH s AS (
  SELECT CAST(year(o_orderdate) AS VARCHAR) AS yr,
         o_orderpriority AS prio,
         CAST(o_totalprice AS DOUBLE) AS v
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
med AS (SELECT yr, quantile_cont(v, 0.5) AS med FROM s GROUP BY yr),
tagged AS (
  SELECT s.yr, s.prio, CASE WHEN s.v > m.med THEN 1 ELSE 0 END AS abv
  FROM s JOIN med m ON m.yr = s.yr),
pc AS (
  SELECT yr, prio, CAST(count(*) AS DOUBLE) AS nc,
         CAST(sum(abv) AS DOUBLE) AS ac
  FROM tagged GROUP BY yr, prio),
fam AS (
  SELECT yr, sum(nc) AS n, sum(ac) AS a,
         CAST(count(*) AS DOUBLE) AS k,
         sum(ac * ac / nc) AS saa
  FROM pc GROUP BY yr),
c AS (
  SELECT yr, n, k,
         CASE WHEN k >= 2 AND a / n > 0 AND a / n < 1
              THEN (saa - a * a / n) / ((a / n) * (1e0 - a / n)) END
           AS chi2
  FROM fam)
SELECT yr, CAST(n AS BIGINT) AS n_total,
       CAST(k AS BIGINT) AS k_classes,
       round(chi2, 6) AS chi2,
       CAST(k - 1 AS BIGINT) AS df,
       round({_wh_chi2_p_sql('chi2', '(k - 1e0)')}, 6) AS p_value
FROM c ORDER BY yr
"""


def q_permutation_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-seeded permutation test: purchase vs click mean event
    value, 100 deterministic relabelings via hash64(event_id, seed)
    (operators/evaluation.py permutation_test) — one broadcast seed
    crossJoin whose map-side combine reduces to 100 rows/partition."""
    from knot_another_pipeline_spark.operators.evaluation import (
        permutation_test,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    return permutation_test(
        ev,
        id_col="event_id", arm_col="event_type", value_col="value",
        treatment="purchase", control="click", n_perm=100,
    )


def _h64_mod2(seed_expr: str, id_expr: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(CAST({seed_expr} AS VARCHAR)"
        f" || ':' || CAST({id_expr} AS VARCHAR)), 1, 15)) AS BIGINT) % 2"
    )


ORACLE_PERMUTATION_DIFF = f"""
WITH s AS (
  SELECT event_id AS id, event_type AS arm, CAST(value AS DOUBLE) AS v
  FROM events
  WHERE value IS NOT NULL AND event_id IS NOT NULL
    AND event_type IN ('purchase', 'click')),
obs AS (
  SELECT
    CAST(sum(CASE WHEN arm = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_treat,
    CAST(sum(CASE WHEN arm = 'click' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_control,
    avg(CASE WHEN arm = 'purchase' THEN v END)
      - avg(CASE WHEN arm = 'click' THEN v END) AS obs
  FROM s),
seeds AS (SELECT unnest(range(1, 101)) AS seed),
per AS (
  SELECT seed,
         avg(CASE WHEN {_h64_mod2('seed', 'id')} = 1 THEN v END)
           - avg(CASE WHEN {_h64_mod2('seed', 'id')} = 0 THEN v END)
           AS pd
  FROM s, seeds GROUP BY seed),
tally AS (
  SELECT o.n_treat, o.n_control, o.obs,
         CAST(count(*) AS BIGINT) AS n_perm,
         CAST(sum(CASE WHEN abs(p.pd) >= abs(o.obs) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_extreme
  FROM per p, obs o GROUP BY o.n_treat, o.n_control, o.obs)
SELECT n_treat, n_control,
       round(obs, 6) AS obs_diff,
       n_perm, n_extreme,
       round((1e0 + n_extreme) / (CAST(n_perm AS DOUBLE) + 1e0), 6)
         AS p_value
FROM tally
"""


def _survival_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user, event_type) subjects with day-span durations and the
    final-7-days right-censoring rule — the q_survival_curve framing."""
    events = load_table(spark, sf_dir, "events")
    horizon = events.agg(F.max("ts").alias("_hmax"))
    return (
        events.groupBy("user_id", F.col("event_type").alias("grp"))
        .agg(F.min("ts").alias("_first"), F.max("ts").alias("_last"))
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            "grp",
            F.datediff(
                F.col("_last").cast("date"), F.col("_first").cast("date")
            ).cast("double").alias("dur"),
            F.when(
                F.col("_last") < F.col("_hmax") - F.expr("INTERVAL 7 DAYS"),
                F.lit(1),
            ).otherwise(F.lit(0)).alias("ev"),
        )
    )


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative hazard per event type on the
    survival_curve subjects (operators/behavior.py nelson_aalen): one
    step-table aggregate, cumulative-sum windows over it."""
    from knot_another_pipeline_spark.operators.behavior import nelson_aalen

    return nelson_aalen(
        _survival_subjects(spark, sf_dir),
        group_col="grp", duration_col="dur", event_col="ev",
    )


_SURVIVAL_SUBJECTS_SQL = """
  SELECT user_id, event_type AS grp,
         CAST(date_diff('day', CAST(min(ts) AS DATE),
                        CAST(max(ts) AS DATE)) AS DOUBLE) AS dur,
         CASE WHEN max(ts) < (SELECT max(ts) FROM events)
                             - INTERVAL 7 DAY
              THEN 1 ELSE 0 END AS ev
  FROM events GROUP BY user_id, event_type
"""


ORACLE_NELSON_AALEN = f"""
WITH subj AS ({_SURVIVAL_SUBJECTS_SQL}),
agg AS (
  SELECT grp, dur AS t, sum(ev) AS d, sum(1 - ev) AS c
  FROM subj GROUP BY 1, 2),
w AS (
  SELECT grp, t, d, c,
         sum(d + c) OVER (PARTITION BY grp)
           - coalesce(sum(d + c) OVER
               (PARTITION BY grp ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM agg),
h AS (
  SELECT *,
         sum(CAST(d AS DOUBLE) / n_risk) OVER cum AS haz,
         sum(CAST(d AS DOUBLE) / n_risk / n_risk) OVER cum AS hvar
  FROM w
  WINDOW cum AS (PARTITION BY grp ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT grp AS "group", t AS duration,
       CAST(n_risk AS BIGINT) AS at_risk,
       CAST(d AS BIGINT) AS events, CAST(c AS BIGINT) AS censored,
       round(haz, 6) AS cum_hazard,
       round(sqrt(hvar), 6) AS hazard_se,
       round(exp(-haz), 6) AS fh_survival
FROM h WHERE d > 0
"""


def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-cohort log-rank test — even vs odd user ids, per-user
    durations with the final-7-days censoring rule
    (operators/behavior.py log_rank_test)."""
    from knot_another_pipeline_spark.operators.behavior import log_rank_test

    events = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    horizon = events.agg(F.max("ts").alias("_hmax"))
    subj = (
        events.groupBy("user_id")
        .agg(F.min("ts").alias("_first"), F.max("ts").alias("_last"))
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(F.col("user_id") % 2 == 0, F.lit("even"))
            .otherwise(F.lit("odd"))
            .alias("cohort"),
            F.datediff(
                F.col("_last").cast("date"), F.col("_first").cast("date")
            ).cast("double").alias("dur"),
            F.when(
                F.col("_last") < F.col("_hmax") - F.expr("INTERVAL 7 DAYS"),
                F.lit(1),
            ).otherwise(F.lit(0)).alias("ev"),
        )
    )
    return log_rank_test(
        subj, group_col="cohort", duration_col="dur", event_col="ev"
    )


ORACLE_LOG_RANK = f"""
WITH subj AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS grp,
         CAST(date_diff('day', CAST(min(ts) AS DATE),
                        CAST(max(ts) AS DATE)) AS DOUBLE) AS t,
         CASE WHEN max(ts) < (SELECT max(ts) FROM events)
                             - INTERVAL 7 DAY
              THEN 1 ELSE 0 END AS ev
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
steps AS (
  SELECT grp, t, CAST(sum(ev) AS DOUBLE) AS d,
         CAST(count(*) AS DOUBLE) AS x
  FROM subj GROUP BY grp, t),
grid AS (
  SELECT t, grp FROM (SELECT DISTINCT t FROM steps),
                     (SELECT DISTINCT grp FROM steps)),
dense AS (
  SELECT g.grp, g.t, coalesce(s.d, 0e0) AS d, coalesce(s.x, 0e0) AS x
  FROM grid g LEFT JOIN steps s ON s.grp = g.grp AND s.t = g.t),
ar AS (
  SELECT grp, t, d,
         sum(x) OVER (PARTITION BY grp ORDER BY t
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
  FROM dense),
piv AS (
  SELECT t,
         sum(CASE WHEN grp = 'even' THEN d ELSE 0e0 END) AS d1,
         sum(CASE WHEN grp = 'even' THEN n ELSE 0e0 END) AS n1,
         sum(d) AS dt, sum(n) AS nt
  FROM ar GROUP BY t HAVING sum(d) > 0),
tot AS (
  SELECT sum(d1) AS o1, sum(dt * n1 / nt) AS e1, sum(dt) AS ot,
         sum(CASE WHEN nt > 1
                  THEN dt * (n1/nt) * (1e0 - n1/nt) * (nt - dt) / (nt - 1e0)
                  ELSE 0e0 END) AS v
  FROM piv),
stat AS (
  SELECT o1, e1, ot,
         CASE WHEN v > 0 THEN (o1 - e1) * (o1 - e1) / v END AS chi2
  FROM tot),
pg AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_subjects
  FROM subj GROUP BY grp)
SELECT pg.grp AS "group", pg.n_subjects,
       round(CASE WHEN pg.grp = 'even' THEN s.o1
                  ELSE s.ot - s.o1 END, 6) AS observed,
       round(CASE WHEN pg.grp = 'even' THEN s.e1
                  ELSE s.ot - s.e1 END, 6) AS expected,
       round(s.chi2, 6) AS chi2,
       CAST(1 AS BIGINT) AS df,
       round({_nsf2_sql('sqrt(s.chi2)')}, 6) AS p_value
FROM pg, stat s
ORDER BY pg.grp
"""


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 3-hop harmonic centrality of every 101st order node on
    the order<->part graph (operators/graph.py harmonic_centrality):
    the reach_census frontier loop folding n_hop/h sums — nodes enter
    at minimum distance exactly once."""
    from knot_another_pipeline_spark.operators.graph import (
        harmonic_centrality,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # BIGINT node encoding through the 3 hop loops; decode + re-sort on
    # the decoded string so the output ordering is unchanged (guide
    # §2.3 — the pagerank-family relabeling, r12).
    roots = (
        li.filter(F.col("l_orderkey") % 101 == 0)
        .select(_bip_even(F.col("l_orderkey")).alias("node"))
        .distinct()
    )
    out = harmonic_centrality(_walk_edges_bip(li), roots=roots, hops=3)
    return out.select(
        _bip_decode(F.col("root"), "o:", "p:").alias("root"),
        "n_reach",
        "harmonic",
    ).orderBy("root")


ORACLE_HARMONIC_CENTRALITY = """
WITH e AS (
  SELECT DISTINCT 'o:' || l_orderkey AS src, 'p:' || l_partkey AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT 'p:' || l_partkey AS src, 'o:' || l_orderkey AS dst
  FROM lineitem),
roots AS (
  SELECT DISTINCT 'o:' || l_orderkey AS root
  FROM lineitem WHERE l_orderkey % 101 = 0),
r0 AS (SELECT root, root AS node FROM roots),
f1 AS (
  (SELECT DISTINCT r.root, e.dst AS node FROM r0 r JOIN e ON e.src = r.node)
  EXCEPT (SELECT root, node FROM r0)),
f2 AS (
  (SELECT DISTINCT f.root, e.dst AS node FROM f1 f JOIN e ON e.src = f.node)
  EXCEPT (SELECT root, node FROM r0 UNION ALL SELECT root, node FROM f1)),
f3 AS (
  (SELECT DISTINCT f.root, e.dst AS node FROM f2 f JOIN e ON e.src = f.node)
  EXCEPT (SELECT root, node FROM r0 UNION ALL SELECT root, node FROM f1
          UNION ALL SELECT root, node FROM f2)),
c1 AS (SELECT root, CAST(count(*) AS DOUBLE) AS n FROM f1 GROUP BY root),
c2 AS (SELECT root, CAST(count(*) AS DOUBLE) AS n FROM f2 GROUP BY root),
c3 AS (SELECT root, CAST(count(*) AS DOUBLE) AS n FROM f3 GROUP BY root)
SELECT r.root,
       CAST(coalesce(c1.n, 0) + coalesce(c2.n, 0) + coalesce(c3.n, 0)
            AS BIGINT) AS n_reach,
       round(coalesce(c1.n, 0) / 1e0 + coalesce(c2.n, 0) / 2e0
             + coalesce(c3.n, 0) / 3e0, 6) AS harmonic
FROM roots r
LEFT JOIN c1 ON c1.root = r.root
LEFT JOIN c2 ON c2.root = r.root
LEFT JOIN c3 ON c3.root = r.root
ORDER BY r.root
"""



def _one_sided_p_sql(z: str) -> str:
    """One-sided normal tail P(Z > z) from the shared A&S polynomial."""
    return (
        f"(CASE WHEN {z} >= 0 THEN ({_nsf2_sql(z)}) / 2"
        f" ELSE 1e0 - ({_nsf2_sql(z)}) / 2 END)"
    )


_WEEKEND_SQL = (
    "CASE WHEN (datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7)"
    " IN (5, 6) THEN 1 ELSE 0 END"
)


def _weekend_flag() -> F.Column:
    return F.when(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).isin(5, 6),
        F.lit(1),
    ).otherwise(F.lit(0))


def q_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling per event type: weekend vs weekday
    value distributions (operators/quality.py anderson_darling) — the
    tail-weighted drift test; one pooled window per family + one hash
    aggregate, raw parquet doubles so the pooled order is bit-identical
    across engines."""
    from knot_another_pipeline_spark.operators.quality import (
        anderson_darling,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = ev.select(
        F.col("event_type").alias("fam"),
        F.col("value").cast("double").alias("v"),
        _weekend_flag().alias("y"),
    )
    return anderson_darling(
        s, group_cols=["fam"], value_col="v", class_col="y"
    )


ORACLE_ANDERSON_DARLING = f"""
WITH s AS (
  SELECT event_type AS fam, CAST(value AS DOUBLE) AS v,
         {_WEEKEND_SQL} AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
st AS (
  SELECT fam,
         CAST(row_number() OVER w AS DOUBLE) AS i,
         CAST(sum(y) OVER (PARTITION BY fam ORDER BY v ASC, y DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) AS mi,
         CAST(sum(y) OVER (PARTITION BY fam) AS DOUBLE) AS n1,
         CAST(count(*) OVER (PARTITION BY fam) AS DOUBLE) AS nn
  FROM s
  WINDOW w AS (PARTITION BY fam ORDER BY v ASC, y DESC)),
agg AS (
  SELECT fam, max(n1) AS n1, max(nn) AS nn,
         sum(CASE WHEN i < nn
                  THEN (mi * nn - n1 * i) * (mi * nn - n1 * i)
                       / (i * (nn - i)) ELSE 0e0 END) AS sm
  FROM st GROUP BY fam),
f AS (
  SELECT fam, n1, nn - n1 AS n0,
         CASE WHEN n1 > 0 AND nn - n1 > 0
              THEN sm / (n1 * (nn - n1)) END AS ad
  FROM agg)
SELECT fam, CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
       round(ad, 6) AS ad_stat,
       ad > 2.492e0 AS exceeds_5pct
FROM f ORDER BY fam
"""


def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's nominal alpha over (user = unit, event_type =
    rating): how internally consistent users' event types are vs the
    corpus mix (operators/quality.py krippendorff_alpha) — two
    narrowing aggregates, missing-rater-safe, single-event users
    excluded as unpairable."""
    from knot_another_pipeline_spark.operators.quality import (
        krippendorff_alpha,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    return krippendorff_alpha(
        ev, unit_col="user_id", value_col="event_type"
    )


ORACLE_KRIPPENDORFF_ALPHA = """
WITH s AS (
  SELECT user_id AS u, event_type AS c
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
cells AS (
  SELECT u, c, CAST(count(*) AS DOUBLE) AS nuc FROM s GROUP BY u, c),
units AS (SELECT u, sum(nuc) AS mu FROM cells GROUP BY u),
unpair AS (
  SELECT CAST(sum(CASE WHEN mu < 2 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unpairable FROM units),
j AS (
  SELECT cells.u, cells.c, cells.nuc, units.mu
  FROM cells JOIN units ON units.u = cells.u WHERE units.mu >= 2),
don AS (
  SELECT sum(nuc * (mu - nuc) / (mu - 1e0)) AS don,
         CAST(count(DISTINCT c) AS BIGINT) AS k_categories,
         CAST(count(DISTINCT u) AS BIGINT) AS n_units,
         sum(nuc) AS ntot
  FROM j),
ct AS (
  SELECT sum(nc * nc) AS snc2 FROM (
    SELECT c, sum(nuc) AS nc FROM j GROUP BY c)),
f AS (
  SELECT n_units, n_unpairable, ntot, k_categories,
         don / ntot AS d_o,
         (ntot * ntot - snc2) / (ntot * (ntot - 1e0)) AS d_e
  FROM don, ct, unpair)
SELECT n_units, n_unpairable, CAST(ntot AS BIGINT) AS n_ratings,
       k_categories,
       round(d_o, 6) AS d_o,
       round(d_e, 6) AS d_e,
       round(CASE WHEN d_e > 0 THEN 1e0 - d_o / d_e END, 6) AS alpha
FROM f
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy l-diversity release gate over (event_type, hour) quasi
    classes with the user segment (user_id % 5) as the sensitive
    attribute (operators/quality.py l_diversity_summary): the worst
    class drives the verdict."""
    from knot_another_pipeline_spark.operators.quality import (
        l_diversity_summary,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    s = ev.select(
        F.col("event_type").alias("etype"),
        F.hour("ts").alias("hr"),
        F.pmod(F.col("user_id"), F.lit(5)).cast("string").alias("seg"),
    )
    return l_diversity_summary(
        s, quasi_cols=["etype", "hr"], sensitive_col="seg",
        min_entropy_l=2.0,
    )


ORACLE_L_DIVERSITY = """
WITH s AS (
  SELECT event_type AS etype, hour(ts) AS hr,
         CAST(user_id % 5 AS VARCHAR) AS seg
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
cells AS (
  SELECT etype, hr, seg, CAST(count(*) AS DOUBLE) AS n
  FROM s GROUP BY etype, hr, seg),
cls AS (
  SELECT etype, hr, sum(n) AS tot,
         CAST(count(*) AS BIGINT) AS l,
         sum(n * ln(n)) AS nln
  FROM cells GROUP BY etype, hr),
ent AS (SELECT *, exp(ln(tot) - nln / tot) AS el FROM cls)
SELECT CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(tot) AS BIGINT) AS n_rows,
       CAST(min(tot) AS BIGINT) AS min_class_size,
       CAST(min(l) AS BIGINT) AS min_distinct_l,
       round(min(el), 6) AS min_entropy_l,
       CAST(sum(CASE WHEN el < 2e0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_classes_below,
       min(el) >= 2e0 AS release_ok
FROM ent
"""


def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence per event type: is the weekend mean value
    within +/-2.0 of the weekday mean
    (operators/evaluation.py tost_equivalence) — one conditional hash
    aggregate, Welch SE, both one-sided ps from the shared normal
    polynomial."""
    from knot_another_pipeline_spark.operators.evaluation import (
        tost_equivalence,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = ev.select(
        F.col("event_type").alias("fam"),
        F.when(_weekend_flag() == 1, F.lit("weekend"))
        .otherwise(F.lit("weekday"))
        .alias("arm"),
        F.col("value").cast("double").alias("v"),
    )
    return tost_equivalence(
        s, group_cols=["fam"], arm_col="arm", value_col="v",
        treatment="weekend", control="weekday", margin=2.0,
    )


ORACLE_TOST_EQUIVALENCE = f"""
WITH s AS (
  SELECT event_type AS fam,
         CASE WHEN {_WEEKEND_SQL} = 1 THEN 'weekend'
              ELSE 'weekday' END AS arm,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
a AS (
  SELECT fam,
         sum(CASE WHEN arm = 'weekend' THEN 1e0 ELSE 0e0 END) AS nt,
         sum(CASE WHEN arm = 'weekend' THEN v ELSE 0e0 END) AS st,
         sum(CASE WHEN arm = 'weekend' THEN v * v ELSE 0e0 END) AS sqt,
         sum(CASE WHEN arm = 'weekday' THEN 1e0 ELSE 0e0 END) AS nc,
         sum(CASE WHEN arm = 'weekday' THEN v ELSE 0e0 END) AS sc,
         sum(CASE WHEN arm = 'weekday' THEN v * v ELSE 0e0 END) AS sqc
  FROM s GROUP BY fam),
m AS (
  SELECT fam, nt, nc,
         st / nt - sc / nc AS diff,
         sqrt(((sqt - nt * (st / nt) * (st / nt)) / (nt - 1e0)) / nt
              + ((sqc - nc * (sc / nc) * (sc / nc)) / (nc - 1e0)) / nc)
           AS se
  FROM a),
z AS (
  SELECT fam, nt, nc,
         CASE WHEN nt > 1 AND nc > 1 AND se > 0 THEN diff END AS diff,
         CASE WHEN nt > 1 AND nc > 1 AND se > 0 THEN se END AS se,
         (diff + 2e0) / se AS zlo,
         (2e0 - diff) / se AS zhi
  FROM m),
p AS (
  SELECT fam, nt, nc, diff, se,
         CASE WHEN diff IS NOT NULL THEN
           greatest({_one_sided_p_sql('zlo')}, {_one_sided_p_sql('zhi')})
         END AS p_tost
  FROM z)
SELECT fam, CAST(nt AS BIGINT) AS n_treat, CAST(nc AS BIGINT) AS n_control,
       round(diff, 6) AS diff,
       round(se, 6) AS se,
       round(p_tost, 6) AS p_tost,
       p_tost < 0.05e0 AS equivalent
FROM p ORDER BY fam
"""


def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio across weekday strata: is a
    high event value (> 50) associated with the purchase type after
    controlling for day-of-week
    (operators/evaluation.py mantel_haenszel)."""
    from knot_another_pipeline_spark.operators.evaluation import (
        mantel_haenszel,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = ev.select(
        (
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            % 7
        ).cast("string").alias("wd"),
        (F.col("value") > 50).alias("exposed"),
        (F.col("event_type") == "purchase").alias("outcome"),
    )
    return mantel_haenszel(
        s, stratum_col="wd", exposure_col="exposed", outcome_col="outcome"
    )


ORACLE_MANTEL_HAENSZEL = f"""
WITH s AS (
  SELECT CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) % 7
              AS VARCHAR) AS wd,
         value > 50 AS e,
         event_type = 'purchase' AS o
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
cells AS (
  SELECT wd,
         sum(CASE WHEN e AND o THEN 1e0 ELSE 0e0 END) AS a,
         sum(CASE WHEN e AND NOT o THEN 1e0 ELSE 0e0 END) AS b,
         sum(CASE WHEN NOT e AND o THEN 1e0 ELSE 0e0 END) AS c,
         sum(CASE WHEN NOT e AND NOT o THEN 1e0 ELSE 0e0 END) AS d
  FROM s GROUP BY wd),
n AS (SELECT *, a + b + c + d AS nn FROM cells),
red AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata_all,
         CAST(sum(CASE WHEN nn < 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_strata_skipped,
         CAST(sum(nn) AS BIGINT) AS n_rows,
         sum(CASE WHEN nn >= 2 THEN a * d / nn END) AS sad,
         sum(CASE WHEN nn >= 2 THEN b * c / nn END) AS sbc,
         sum(CASE WHEN nn >= 2 THEN a END) AS sa,
         sum(CASE WHEN nn >= 2 THEN (a + b) * (a + c) / nn END) AS se_,
         sum(CASE WHEN nn >= 2
                  THEN (a + b) * (c + d) * (a + c) * (b + d)
                       / (nn * nn * (nn - 1e0)) END) AS sv
  FROM n),
f AS (
  SELECT n_strata_all - n_strata_skipped AS n_strata,
         n_strata_skipped, n_rows,
         CASE WHEN sbc > 0 THEN sad / sbc END AS or_mh,
         CASE WHEN sv > 0 THEN (sa - se_) * (sa - se_) / sv END AS chi2
  FROM red)
SELECT n_strata, n_strata_skipped, n_rows,
       round(or_mh, 6) AS or_mh,
       round(chi2, 6) AS cmh_chi2,
       CAST(1 AS BIGINT) AS df,
       round({_nsf2_sql('sqrt(chi2)')}, 6) AS p_value
FROM f
"""



def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit over the documents corpus in
    doc-id order, 8 checkpoints
    (operators/text_analysis.py heaps_law): one tokenize pass, one
    type aggregate, broadcast checkpoint sums, log-log OLS."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        heaps_law,
    )

    docs = load_table(spark, sf_dir, "documents")
    return heaps_law(
        docs, id_col="doc_id", text_col="text", n_checkpoints=8
    )


ORACLE_HEAPS_LAW = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x != '')) AS tok
  FROM documents WHERE doc_id IS NOT NULL),
dc AS (
  SELECT doc_id, CAST(count(*) AS DOUBLE) AS ntok
  FROM toks GROUP BY doc_id),
rk AS (
  SELECT doc_id, ntok,
         CAST(row_number() OVER (ORDER BY doc_id) AS DOUBLE) AS r
  FROM dc),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS d, sum(ntok) AS n FROM rk),
fs AS (
  SELECT t.tok, min(rk.r) AS first_r
  FROM toks t JOIN rk ON rk.doc_id = t.doc_id GROUP BY t.tok),
cps AS (
  SELECT DISTINCT CAST(ceil(j * (SELECT d FROM tot) / 8e0) AS DOUBLE) AS c
  FROM (SELECT unnest(range(1, 9)) AS j)),
va AS (
  SELECT c, CAST(sum(CASE WHEN first_r <= c THEN 1 ELSE 0 END) AS DOUBLE)
    AS v
  FROM fs, cps GROUP BY c),
na AS (
  SELECT c, sum(CASE WHEN r <= c THEN ntok ELSE 0e0 END) AS nc
  FROM rk, cps GROUP BY c),
pts AS (
  SELECT va.c, va.v, na.nc FROM va JOIN na ON na.c = va.c
  WHERE va.v > 0 AND na.nc > 0),
fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS k,
         sum(ln(nc)) AS su, sum(ln(v)) AS sv,
         sum(ln(nc) * ln(nc)) AS suu, sum(ln(nc) * ln(v)) AS suv
  FROM pts),
f AS (
  SELECT k, suu - su * su / k AS denom,
         (suv - su * sv / k) / (suu - su * su / k) AS beta,
         sv / k - ((suv - su * sv / k) / (suu - su * su / k)) * su / k
           AS lnk
  FROM fit)
SELECT CAST((SELECT d FROM tot) AS BIGINT) AS n_docs,
       CAST((SELECT n FROM tot) AS BIGINT) AS n_tokens,
       (SELECT CAST(count(*) AS BIGINT) FROM fs) AS vocab,
       round(CASE WHEN k >= 2 AND denom > 0 THEN beta END, 6) AS beta,
       round(CASE WHEN k >= 2 AND denom > 0 THEN exp(lnk) END, 6)
         AS k_coef
FROM f
"""


def q_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper/lower tail dependence between line-item price and
    quantity at q=0.9 (operators/quality.py tail_dependence): one
    exact-percentile aggregate broadcast back, one conditional
    aggregate."""
    from knot_another_pipeline_spark.operators.quality import (
        tail_dependence,
    )

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
    )
    return tail_dependence(
        li, x_col="l_extendedprice", y_col="l_quantity", q=0.9
    )


ORACLE_TAIL_DEPENDENCE = """
WITH s AS (
  SELECT CAST(l_extendedprice AS DOUBLE) AS x,
         CAST(l_quantity AS DOUBLE) AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
q AS (
  SELECT quantile_cont(x, 0.9) AS xq, quantile_cont(y, 0.9) AS yq,
         quantile_cont(x, 0.09999999999999998) AS xl,
         quantile_cont(y, 0.09999999999999998) AS yl
  FROM s),
a AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         max(q.xq) AS xq, max(q.yq) AS yq,
         CAST(sum(CASE WHEN x > q.xq THEN 1 ELSE 0 END) AS DOUBLE) AS nxh,
         CAST(sum(CASE WHEN x > q.xq AND y > q.yq THEN 1 ELSE 0 END)
              AS DOUBLE) AS nbh,
         CAST(sum(CASE WHEN x <= q.xl THEN 1 ELSE 0 END) AS DOUBLE) AS nxl,
         CAST(sum(CASE WHEN x <= q.xl AND y <= q.yl THEN 1 ELSE 0 END)
              AS DOUBLE) AS nbl
  FROM s, q)
SELECT n, 0.9e0 AS q,
       round(xq, 6) AS x_hi, round(yq, 6) AS y_hi,
       CAST(nxh AS BIGINT) AS n_x_hi,
       round(CASE WHEN nxh > 0 THEN nbh / nxh END, 6) AS lambda_upper,
       round(CASE WHEN nxl > 0 THEN nbl / nxl END, 6) AS lambda_lower
FROM a
"""


def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart individuals chart + Western Electric run rules on
    daily event volumes per type (operators/temporal.py
    control_chart): one moment aggregate joined back, one ordered
    window pass over trailing row frames."""
    from knot_another_pipeline_spark.operators.temporal import control_chart

    return control_chart(
        _daily_count_series(spark, sf_dir),
        series_col="series", order_col="ord", value_col="y",
    )


ORACLE_CONTROL_CHART = f"""
WITH daily AS ({_DAILY_COUNT_SERIES_SQL}),
mom AS (
  SELECT series, CAST(count(*) AS DOUBLE) AS n,
         sum(y) AS sx, sum(y * y) AS sxx
  FROM daily GROUP BY series),
st AS (
  SELECT series, n, sx / n AS mu,
         sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0e0)) AS sig
  FROM mom),
tagged AS (
  SELECT d.series, d.ord, (d.y - st.mu) / st.sig AS z
  FROM daily d JOIN st ON st.series = d.series
  WHERE st.sig > 0),
ind AS (
  SELECT series, ord, z,
         CASE WHEN z > 0 THEN 1 ELSE 0 END AS up,
         CASE WHEN z > 2 THEN 1 ELSE 0 END AS p2,
         CASE WHEN z < -2 THEN 1 ELSE 0 END AS m2,
         CASE WHEN z > 1 THEN 1 ELSE 0 END AS p1,
         CASE WHEN z < -1 THEN 1 ELSE 0 END AS m1
  FROM tagged),
fl AS (
  SELECT series, ord,
         abs(z) > 3 AS r1,
         count(*) OVER w3 >= 3
           AND (sum(p2) OVER w3 >= 2 OR sum(m2) OVER w3 >= 2) AS r2,
         count(*) OVER w5 >= 5
           AND (sum(p1) OVER w5 >= 4 OR sum(m1) OVER w5 >= 4) AS r3,
         count(*) OVER w8 >= 8
           AND (sum(up) OVER w8 >= 8 OR sum(up) OVER w8 <= 0) AS r4
  FROM ind
  WINDOW
    w3 AS (PARTITION BY series ORDER BY ord
           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
    w5 AS (PARTITION BY series ORDER BY ord
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
    w8 AS (PARTITION BY series ORDER BY ord
           ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)),
agg AS (
  SELECT series,
         CAST(sum(CASE WHEN r1 THEN 1 ELSE 0 END) AS BIGINT) AS n_r1,
         CAST(sum(CASE WHEN r2 THEN 1 ELSE 0 END) AS BIGINT) AS n_r2,
         CAST(sum(CASE WHEN r3 THEN 1 ELSE 0 END) AS BIGINT) AS n_r3,
         CAST(sum(CASE WHEN r4 THEN 1 ELSE 0 END) AS BIGINT) AS n_r4,
         CAST(sum(CASE WHEN r1 OR r2 OR r3 OR r4 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_flagged,
         min(CASE WHEN r1 OR r2 OR r3 OR r4 THEN ord END)
           AS first_flag_ord
  FROM fl GROUP BY series)
SELECT st.series, CAST(st.n AS BIGINT) AS n,
       round(st.mu, 6) AS mean,
       round(st.sig, 6) AS sigma,
       coalesce(a.n_r1, 0) AS n_r1,
       coalesce(a.n_r2, 0) AS n_r2,
       coalesce(a.n_r3, 0) AS n_r3,
       coalesce(a.n_r4, 0) AS n_r4,
       coalesce(a.n_flagged, 0) AS n_flagged,
       a.first_flag_ord
FROM st LEFT JOIN agg a ON a.series = st.series
ORDER BY st.series
"""


def q_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by discounted revenue
    (operators/relational.py abc_classes): one per-key aggregate
    (values rounded before ranking), rank + running share over the
    part dimension."""
    from knot_another_pipeline_spark.operators.relational import abc_classes

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey").isNotNull()
    )
    s = li.select(
        F.col("l_partkey").alias("part"),
        (
            F.col("l_extendedprice").cast("double")
            * (1.0 - F.col("l_discount").cast("double"))
        ).alias("rev"),
    )
    return abc_classes(s, key_col="part", value_col="rev")


ORACLE_ABC_CLASSES = """
WITH per AS (
  SELECT l_partkey AS key,
         round(sum(CAST(l_extendedprice AS DOUBLE)
                   * (1e0 - CAST(l_discount AS DOUBLE))), 6) AS value
  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY l_partkey),
tot AS (SELECT sum(value) AS t FROM per),
rk AS (
  SELECT key, value,
         row_number() OVER (ORDER BY value DESC, key ASC) AS r,
         sum(value) OVER (ORDER BY value DESC, key ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / (SELECT t FROM tot) AS cum
  FROM per)
SELECT key, value,
       round(value / (SELECT t FROM tot), 6) AS share,
       round(cum, 6) AS cum_share,
       CASE WHEN cum <= 0.8e0 OR r = 1 THEN 'A'
            WHEN cum <= 0.95e0 THEN 'B'
            ELSE 'C' END AS abc_class
FROM rk ORDER BY r
"""



def q_rouge_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 between each document and its id-successor
    (operators/text_analysis.py rouge_n): clipped bigram-multiset
    overlap in one (pair, gram) hash aggregate — co-located union,
    no gram join."""
    from knot_another_pipeline_spark.operators.text_analysis import rouge_n

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"),
        F.col("text").alias("_ref"),
    )
    pairs = docs.select("doc_id", F.col("text").alias("_cand")).join(
        nxt, "doc_id"
    )
    return rouge_n(
        pairs, id_col="doc_id", cand_col="_cand", ref_col="_ref", n=2
    )


ORACLE_ROUGE_BIGRAM = r"""
WITH pairs AS (
  SELECT a.doc_id AS id, a.text AS cand, b.text AS ref
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id IS NOT NULL),
grams AS (
  SELECT id, 'c' AS side,
         unnest(list_transform(
           range(1, greatest(len(list_filter(string_split_regex(
             trim(lower(cand)), '\s+'), x -> x != '')), 1)),
           i -> array_to_string(list_slice(list_filter(string_split_regex(
             trim(lower(cand)), '\s+'), x -> x != ''), i, i + 1), ' ')))
           AS g
  FROM pairs
  UNION ALL
  SELECT id, 'r' AS side,
         unnest(list_transform(
           range(1, greatest(len(list_filter(string_split_regex(
             trim(lower(ref)), '\s+'), x -> x != '')), 1)),
           i -> array_to_string(list_slice(list_filter(string_split_regex(
             trim(lower(ref)), '\s+'), x -> x != ''), i, i + 1), ' ')))
           AS g
  FROM pairs),
cells AS (
  SELECT id, g,
         sum(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS cc,
         sum(CASE WHEN side = 'r' THEN 1 ELSE 0 END) AS cr
  FROM grams GROUP BY id, g),
pp0 AS (
  SELECT id, sum(cc) AS nc, sum(cr) AS nr,
         sum(least(cc, cr)) AS ov
  FROM cells GROUP BY id),
pp AS (
  SELECT p.id, coalesce(pp0.nc, 0) AS nc, coalesce(pp0.nr, 0) AS nr,
         coalesce(pp0.ov, 0) AS ov
  FROM (SELECT DISTINCT id FROM pairs) p
  LEFT JOIN pp0 ON pp0.id = p.id),
sc AS (
  SELECT id, nc, nr, ov,
         CASE WHEN nr > 0 THEN CAST(ov AS DOUBLE) / nr END AS rec,
         CASE WHEN nc > 0 THEN CAST(ov AS DOUBLE) / nc END AS prec
  FROM pp)
SELECT id, CAST(nc AS BIGINT) AS n_cand_grams,
       CAST(nr AS BIGINT) AS n_ref_grams,
       CAST(ov AS BIGINT) AS n_overlap,
       round(rec, 6) AS rouge_recall,
       round(prec, 6) AS rouge_precision,
       round(CASE WHEN rec IS NOT NULL AND prec IS NOT NULL
                       AND rec + prec > 0
                  THEN 2e0 * rec * prec / (rec + prec)
                  WHEN rec IS NOT NULL AND prec IS NOT NULL
                  THEN 0e0 END, 6) AS rouge_f1
FROM sc ORDER BY id
"""


def q_token_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    vs the rest of the corpus (operators/text_analysis.py token_jsd):
    the rest is ALGEBRA (total - group), absent-token terms collapse
    to a closed form — no group x vocab densify."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        token_jsd,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    return token_jsd(docs, group_col="source", text_col="text")


ORACLE_TOKEN_JSD = r"""
WITH toks AS (
  SELECT CAST(source AS VARCHAR) AS grp,
         unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                            x -> x != '')) AS tok
  FROM documents WHERE source IS NOT NULL),
cells AS (
  SELECT grp, tok, CAST(count(*) AS DOUBLE) AS c
  FROM toks GROUP BY grp, tok),
tt AS (SELECT tok, sum(c) AS t FROM cells GROUP BY tok),
gt AS (
  SELECT grp, sum(c) AS gn, CAST(count(*) AS BIGINT) AS vocab
  FROM cells GROUP BY grp),
corpus AS (SELECT sum(gn) AS cn FROM gt),
j AS (
  SELECT cells.grp, cells.c, tt.t, gt.gn, gt.vocab,
         CASE WHEN corpus.cn - gt.gn > 0
              THEN corpus.cn - gt.gn END AS rn
  FROM cells
  JOIN tt ON tt.tok = cells.tok
  JOIN gt ON gt.grp = cells.grp
  CROSS JOIN corpus),
terms AS (
  SELECT grp, gn, vocab, rn,
         c / gn AS p,
         (t - c) / rn AS q
  FROM j),
pres AS (
  SELECT grp, max(gn) AS gn, max(vocab) AS vocab, max(rn) AS rn,
         sum(0.5e0 * p * ln(p / ((p + q) / 2e0)) / 0.6931471805599453e0
             + CASE WHEN q > 0
                    THEN 0.5e0 * q * ln(q / ((p + q) / 2e0))
                         / 0.6931471805599453e0
                    ELSE 0e0 END) AS ps,
         sum(q) AS qpres
  FROM terms GROUP BY grp)
SELECT grp AS "group",
       CAST(gn AS BIGINT) AS n_tokens,
       vocab,
       round(CASE WHEN rn > 0 THEN ps + (1e0 - qpres) / 2e0 END, 6)
         AS jsd
FROM pres ORDER BY grp
"""


def q_distribution_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping coefficient between weekend and weekday value
    distributions per event type, 20 equal-width bins over the pooled
    range (operators/quality.py distribution_overlap)."""
    from knot_another_pipeline_spark.operators.quality import (
        distribution_overlap,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = ev.select(
        F.col("event_type").alias("fam"),
        F.col("value").cast("double").alias("v"),
        _weekend_flag().alias("y"),
    )
    return distribution_overlap(
        s, group_cols=["fam"], value_col="v", class_col="y", n_bins=20
    )


ORACLE_DISTRIBUTION_OVERLAP = f"""
WITH s AS (
  SELECT event_type AS fam, CAST(value AS DOUBLE) AS v,
         {_WEEKEND_SQL} AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
rng AS (SELECT fam, min(v) AS lo, max(v) AS hi FROM s GROUP BY fam),
binned AS (
  SELECT s.fam, s.y,
         CASE WHEN r.hi > r.lo
              THEN least(19, CAST(floor((s.v - r.lo)
                   / ((r.hi - r.lo) / 20e0)) AS INTEGER))
              ELSE 0 END AS bin
  FROM s JOIN rng r ON r.fam = s.fam),
cells AS (
  SELECT fam, bin,
         CAST(sum(y) AS DOUBLE) AS c1,
         CAST(sum(1 - y) AS DOUBLE) AS c0
  FROM binned GROUP BY fam, bin),
famt AS (SELECT fam, sum(c1) AS n1, sum(c0) AS n0 FROM cells GROUP BY fam),
o AS (
  SELECT c.fam, f.n1, f.n0,
         sum(least(c.c1 / CASE WHEN f.n1 > 0 THEN f.n1 END,
                   c.c0 / CASE WHEN f.n0 > 0 THEN f.n0 END)) AS ovl
  FROM cells c JOIN famt f ON f.fam = c.fam
  GROUP BY c.fam, f.n1, f.n0)
SELECT fam, CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
       20 AS n_bins,
       round(CASE WHEN n1 > 0 AND n0 > 0 THEN ovl END, 6) AS ovl
FROM o ORDER BY fam
"""


def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta effect size of weekend vs weekday values per
    event type (operators/quality.py cliffs_delta): the mann_whitney
    midrank construction, delta = 2U/(n1*n0) - 1 with Romano magnitude
    bands."""
    from knot_another_pipeline_spark.operators.quality import cliffs_delta

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    s = ev.select(
        F.col("event_type").alias("fam"),
        F.col("value").cast("double").alias("v"),
        _weekend_flag().alias("y"),
    )
    return cliffs_delta(
        s, group_cols=["fam"], value_col="v", class_col="y"
    )


ORACLE_CLIFFS_DELTA = f"""
WITH s AS (
  SELECT event_type AS fam, CAST(value AS DOUBLE) AS v,
         {_WEEKEND_SQL} AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
ranked AS (
  SELECT fam, y,
         rank() OVER (PARTITION BY fam ORDER BY v)
           + (CAST(count(*) OVER (PARTITION BY fam, v) AS DOUBLE) - 1)
             / 2e0 AS r
  FROM s),
agg AS (
  SELECT fam,
         CAST(sum(y) AS DOUBLE) AS n1,
         CAST(sum(1 - y) AS DOUBLE) AS n0,
         sum(CASE WHEN y = 1 THEN r END) AS r1
  FROM ranked GROUP BY fam),
d AS (
  SELECT fam, n1, n0,
         2e0 * (r1 - (CASE WHEN n1 > 0 THEN n1 END)
                      * ((CASE WHEN n1 > 0 THEN n1 END) + 1e0) / 2e0)
           / ((CASE WHEN n1 > 0 THEN n1 END)
              * (CASE WHEN n0 > 0 THEN n0 END)) - 1e0 AS delta
  FROM agg)
SELECT fam, CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
       round(delta, 6) AS delta,
       CASE WHEN abs(delta) < 0.147e0 THEN 'negligible'
            WHEN abs(delta) < 0.33e0 THEN 'small'
            WHEN abs(delta) < 0.474e0 THEN 'medium'
            WHEN delta IS NOT NULL THEN 'large' END AS magnitude
FROM d ORDER BY fam
"""


# --- round-11 additions: product-analytics ledgers (DAU/MAU,
# growth accounting, streaks), inequality/concentration (Theil,
# Lorenz, HHI), heavy-tail estimation (Hill), empirical-Bayes rate
# shrinkage, peak detection, and rank-biased overlap ---


def q_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly DAU/MAU stickiness over events (operators/behavior.py
    dau_mau): average daily distinct users over the month's active
    days divided by the month's distinct users — two distinct-pair
    aggregates sharing one scan."""
    from knot_another_pipeline_spark.operators.behavior import dau_mau

    return dau_mau(load_table(spark, sf_dir, "events"))


ORACLE_DAU_MAU = """
WITH du AS (
  SELECT DISTINCT CAST(date_trunc('month', ts) AS DATE) AS mon,
         CAST(ts AS DATE) AS day, user_id
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
daily AS (
  SELECT mon, day, count(*) AS dau FROM du GROUP BY 1, 2),
pm AS (
  SELECT mon, CAST(count(*) AS BIGINT) AS n_days, avg(dau) AS dau_avg
  FROM daily GROUP BY 1),
ma AS (
  SELECT mon, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM du GROUP BY 1)
SELECT pm.mon AS month, n_days,
       round(dau_avg, 6) AS dau_avg, mau,
       round(dau_avg / mau, 6) AS stickiness
FROM pm JOIN ma ON pm.mon = ma.mon
"""


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly growth accounting (operators/behavior.py
    growth_accounting): MAU decomposed into new/retained/resurrected
    via one per-user lag, churned from the month ledger's own lag —
    mau = new + retained + resurrected holds row by row."""
    from knot_another_pipeline_spark.operators.behavior import (
        growth_accounting,
    )

    return growth_accounting(load_table(spark, sf_dir, "events"))


ORACLE_GROWTH_ACCOUNTING = """
WITH activity AS (
  SELECT DISTINCT user_id AS uid,
         CAST(date_trunc('month', ts) AS DATE) AS mon
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
t AS (
  SELECT uid, mon, year(mon) * 12 + month(mon) - 1 AS mi,
         lag(year(mon) * 12 + month(mon) - 1)
           OVER (PARTITION BY uid ORDER BY year(mon) * 12 + month(mon) - 1)
           AS prev_mi
  FROM activity),
m AS (
  SELECT mon, CAST(count(*) AS BIGINT) AS mau,
         CAST(sum(CASE WHEN prev_mi IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new,
         CAST(sum(CASE WHEN prev_mi = mi - 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
         CAST(sum(CASE WHEN prev_mi IS NOT NULL AND prev_mi < mi - 1
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
  FROM t GROUP BY mon),
c AS (
  SELECT *,
         CAST(coalesce(lag(mau) OVER (ORDER BY mon), 0) - n_retained
              AS BIGINT) AS n_churned
  FROM m)
SELECT mon AS month, mau, n_new, n_retained, n_resurrected, n_churned,
       round(CASE WHEN n_churned > 0
                  THEN (n_new + n_resurrected) * 1.0 / n_churned END,
             6) AS quick_ratio
FROM c
"""


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive-day streaks (operators/behavior.py
    activity_streaks): the gaps-and-islands day−row_number key, one
    user-partitioned window + two hash aggregates."""
    from knot_another_pipeline_spark.operators.behavior import (
        activity_streaks,
    )

    return activity_streaks(load_table(spark, sf_dir, "events"))


ORACLE_ACTIVITY_STREAKS = """
WITH days AS (
  SELECT DISTINCT user_id AS usr, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
isl AS (
  SELECT usr, d,
         d - CAST(row_number() OVER (PARTITION BY usr ORDER BY d)
                  AS INTEGER) AS grp
  FROM days),
st AS (
  SELECT usr, grp, CAST(count(*) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2)
SELECT usr AS "user",
       CAST(sum(len) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_streaks,
       CAST(max(len) AS BIGINT) AS longest_streak
FROM st GROUP BY usr
"""


def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T of per-customer lifetime spend decomposed between/within
    nations (operators/quality.py theil_index): T = T_between +
    T_within as an identity — the decomposable inequality companion
    to gini_concentration."""
    from knot_another_pipeline_spark.operators.quality import theil_index

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("spend")
    )
    df = spend.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        spend["o_custkey"] == F.col("c_custkey"),
    )
    return theil_index(df, group_cols=["c_nationkey"], value_col="spend")


ORACLE_THEIL_INDEX = """
WITH spend AS (
  SELECT o_custkey, sum(o_totalprice) AS v FROM orders GROUP BY 1),
s AS (
  SELECT c_nationkey AS g, CAST(v AS DOUBLE) AS x
  FROM spend JOIN customer ON o_custkey = c_custkey
  WHERE v IS NOT NULL AND v > 0),
pg AS (
  SELECT g, count(*) * 1.0 AS ng, sum(x) AS sg, sum(x * ln(x)) AS slg
  FROM s GROUP BY g),
t AS (
  SELECT sum(ng) AS n, sum(sg) AS sa, sum(slg) AS sl,
         CAST(count(*) AS BIGINT) AS n_groups,
         sum(sg * ln(sg / ng)) AS sglmg
  FROM pg)
SELECT CAST(n AS BIGINT) AS n, n_groups,
       round(sa / n, 6) AS mean,
       round(sl / sa - ln(sa / n), 6) AS theil_total,
       round(sglmg / sa - ln(sa / n), 6) AS theil_between,
       round((sl / sa - ln(sa / n)) - (sglmg / sa - ln(sa / n)), 6)
         AS theil_within
FROM t
"""


def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-exponent estimate of event values per type
    (operators/quality.py hill_tail_index): k=50 largest values vs the
    (k+1)-th order statistic — one rank window, one log-ratio sum."""
    from knot_another_pipeline_spark.operators.quality import (
        hill_tail_index,
    )

    return hill_tail_index(
        load_table(spark, sf_dir, "events"),
        group_cols=["event_type"],
        value_col="value",
        id_col="event_id",
        k=50,
    )


ORACLE_HILL_TAIL_INDEX = """
WITH s AS (
  SELECT event_type, CAST(value AS DOUBLE) AS x, event_id
  FROM events WHERE value IS NOT NULL AND value > 0),
ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY x DESC, event_id ASC) AS rn
  FROM s),
np AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_pos
  FROM s GROUP BY 1),
thr AS (
  SELECT event_type, x AS thr FROM ranked WHERE rn = 51),
summed AS (
  SELECT r.event_type, sum(ln(r.x / t.thr)) AS slr, max(t.thr) AS thr
  FROM ranked r JOIN thr t ON r.event_type = t.event_type
  WHERE r.rn <= 50
  GROUP BY r.event_type)
SELECT np.event_type, n_pos,
       CAST(50 AS INT) AS k,
       round(thr, 6) AS threshold,
       round(CASE WHEN slr > 0 THEN 50.0 / slr END, 6) AS hill_alpha,
       round(CASE WHEN slr > 0 THEN 1.0 / (50.0 / slr) END, 6)
         AS tail_index
FROM np LEFT JOIN summed ON np.event_type = summed.event_type
"""


def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-part return
    rates (operators/quality.py eb_shrinkage): method-of-moments
    Beta prior over parts with >= 5 lines, posterior-mean rates."""
    from knot_another_pipeline_spark.operators.quality import eb_shrinkage

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("part"),
        F.when(F.col("l_returnflag") == "R", 1.0)
        .otherwise(0.0)
        .alias("ret"),
        F.lit(1.0).alias("one"),
    )
    return eb_shrinkage(
        li,
        item_col="part",
        success_col="ret",
        trial_col="one",
        min_trials=5,
    )


ORACLE_EB_SHRINKAGE = """
WITH per_item AS (
  SELECT l_partkey AS item,
         sum(CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS succ,
         count(*) * 1.0 AS tri
  FROM lineitem GROUP BY 1),
rates AS (SELECT *, succ / tri AS rate FROM per_item),
fit AS (
  SELECT avg(rate) AS pbar, var_pop(rate) AS v
  FROM rates WHERE tri >= 5),
priors AS (
  SELECT CASE WHEN v > 0 AND v < pbar * (1 - pbar)
              THEN pbar * (pbar * (1 - pbar) / v - 1) END AS alpha,
         CASE WHEN v > 0 AND v < pbar * (1 - pbar)
              THEN (1 - pbar) * (pbar * (1 - pbar) / v - 1) END AS beta
  FROM fit)
SELECT item,
       CAST(tri AS BIGINT) AS trials,
       CAST(succ AS BIGINT) AS successes,
       round(rate, 6) AS raw_rate,
       round(alpha, 6) AS prior_alpha,
       round(beta, 6) AS prior_beta,
       round((succ + alpha) / (tri + alpha + beta), 6) AS shrunk_rate
FROM rates CROSS JOIN priors
"""


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz-curve deciles of per-customer lifetime spend
    (operators/quality.py lorenz_curve): equal-count rank buckets via
    the distributed global_rank, cumulative value share per decile."""
    from knot_another_pipeline_spark.operators.quality import lorenz_curve

    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    return lorenz_curve(
        spend, value_col="spend", id_col="o_custkey", n_points=10
    )


ORACLE_LORENZ_CURVE = """
WITH spend AS (
  SELECT o_custkey AS id, CAST(sum(o_totalprice) AS DOUBLE) AS v
  FROM orders GROUP BY 1),
s AS (SELECT * FROM spend WHERE v IS NOT NULL AND v >= 0),
ranked AS (
  SELECT v, row_number() OVER (ORDER BY v ASC, id ASC) AS rk,
         count(*) OVER () AS n, sum(v) OVER () AS tot
  FROM s),
b AS (
  SELECT CAST(floor((rk - 1) * 10 / n) + 1 AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n,
         sum(v) AS bsum, max(tot) AS tot
  FROM ranked GROUP BY 1)
SELECT bucket, n,
       round(bsum, 6) AS bucket_sum,
       round(CASE WHEN tot > 0 THEN
               sum(bsum) OVER (ORDER BY bucket
                               ROWS UNBOUNDED PRECEDING) / tot END,
             6) AS cum_share
FROM b
"""


def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peaks in per-type daily event counts
    (operators/temporal.py peak_detection): strictly above both
    neighbors and >= 5% over the taller shoulder — one series
    lag/lead window."""
    from knot_another_pipeline_spark.operators.temporal import (
        peak_detection,
    )

    daily = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    return peak_detection(
        daily,
        series_cols=["event_type"],
        ts_col="day",
        value_col="cnt",
        min_value=0.0,
        min_prominence_ratio=0.05,
    )


ORACLE_PEAK_DETECTION = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS v
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2),
lagged AS (
  SELECT event_type, day, v,
         lag(v) OVER (PARTITION BY event_type ORDER BY day) AS prev,
         lead(v) OVER (PARTITION BY event_type ORDER BY day) AS nxt
  FROM daily)
SELECT event_type, day AS ts,
       round(v, 6) AS value,
       round(prev, 6) AS prev_value,
       round(nxt, 6) AS next_value,
       round(v / greatest(prev, nxt), 6) AS prominence_ratio
FROM lagged
WHERE prev IS NOT NULL AND nxt IS NOT NULL
  AND v > prev AND v > nxt AND v >= 0.0
  AND v >= greatest(prev, nxt) * 1.05
"""


def _rbo_weights(k: int, p: float) -> list[float]:
    """W(m) = (1-p)/p * sum_{d=m..k} p^d/d — the same loop the
    operator runs, so the literal doubles embedded in the oracle are
    bit-identical to the Spark side's element_at array."""
    tail = 0.0
    weights = [0.0] * (k + 1)
    for m in range(k, 0, -1):
        tail += (p**m) / m
        weights[m] = (1.0 - p) / p * tail
    return weights[1:]


def q_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBO@20 (p=0.9) between the revenue-ranked and quantity-ranked
    part leaderboards (operators/evaluation.py rank_biased_overlap):
    top-weighted leaderboard agreement via the closed per-item weight
    W(max(ra, rb)) — no per-depth prefix materialization."""
    from knot_another_pipeline_spark.operators.evaluation import (
        rank_biased_overlap,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "_m"
        )
    )
    qty = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.sum("l_quantity").alias("_m")
    )
    w = Window.orderBy(F.col("_m").desc(), F.col("item").asc())
    # rank windows are unpartitioned but the frames are top-k prunable
    # and the item domain is the part dimension, not the fact table
    ra = rev.select("item", F.row_number().over(w).alias("rank"))
    rb = qty.select("item", F.row_number().over(w).alias("rank"))
    return rank_biased_overlap(ra, rb, k=20, p=0.9)


_RBO_W_SQL = ", ".join(repr(w) for w in _rbo_weights(20, 0.9))

ORACLE_RANK_BIASED_OVERLAP = f"""
WITH rev AS (
  SELECT l_partkey AS item,
         sum(l_extendedprice * (1 - l_discount)) AS m
  FROM lineitem GROUP BY 1),
qty AS (
  SELECT l_partkey AS item, sum(l_quantity) AS m
  FROM lineitem GROUP BY 1),
ra AS (
  SELECT item, row_number() OVER (ORDER BY m DESC, item ASC) AS r
  FROM rev),
rb AS (
  SELECT item, row_number() OVER (ORDER BY m DESC, item ASC) AS r
  FROM qty),
matched AS (
  SELECT greatest(ra.r, rb.r) AS mx
  FROM ra JOIN rb ON ra.item = rb.item
  WHERE ra.r <= 20 AND rb.r <= 20)
SELECT CAST(20 AS INT) AS k,
       round(0.9e0, 6) AS p,
       CAST(count(*) AS BIGINT) AS n_common,
       round(coalesce(sum(list_extract(CAST([{_RBO_W_SQL}] AS DOUBLE[]),
                                       CAST(mx AS INT))), 0.0e0), 6) AS rbo
FROM matched
"""


def q_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-revenue HHI per nation (operators/relational.py
    herfindahl_index): firm totals then share-square sum — two
    narrowing hash aggregates over broadcast-dimension joins."""
    from knot_another_pipeline_spark.operators.relational import (
        herfindahl_index,
    )

    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    df = li.join(
        F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
        li["l_suppkey"] == F.col("s_suppkey"),
    ).join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select(
        "n_name",
        "s_suppkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "rev"
        ),
    )
    return herfindahl_index(
        df,
        market_cols=["n_name"],
        firm_col="s_suppkey",
        value_col="rev",
    )


ORACLE_HERFINDAHL_INDEX = """
WITH firm AS (
  SELECT n_name, s_suppkey,
         sum(l_extendedprice * (1 - l_discount)) AS fv
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY 1, 2
  HAVING sum(l_extendedprice * (1 - l_discount)) > 0),
mkt AS (
  SELECT n_name, CAST(count(*) AS BIGINT) AS n_firms,
         sum(fv) AS tot, sum(fv * fv) AS sq
  FROM firm GROUP BY 1)
SELECT n_name, n_firms,
       round(tot, 6) AS total_value,
       round(sq / (tot * tot), 6) AS hhi,
       round(1.0 / (sq / (tot * tot)), 6) AS effective_firms
FROM mkt
"""


def q_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly block-maxima Gumbel fit of event values per type
    (operators/temporal.py gumbel_maxima): method-of-moments location/
    scale and the 99% monthly return level."""
    from knot_another_pipeline_spark.operators.temporal import (
        gumbel_maxima,
    )

    return gumbel_maxima(
        load_table(spark, sf_dir, "events"),
        series_col="event_type",
        ts_col="ts",
        value_col="value",
        block="month",
        return_p=0.99,
    )


ORACLE_GUMBEL_MAXIMA = """
WITH blocks AS (
  SELECT event_type AS series, date_trunc('month', ts) AS blk,
         max(CAST(value AS DOUBLE)) AS mx
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
agg AS (
  SELECT series, CAST(count(*) AS BIGINT) AS n_blocks,
         avg(mx) AS m, stddev_samp(mx) AS s
  FROM blocks GROUP BY 1),
fit AS (
  SELECT series, n_blocks, m, s,
         CASE WHEN n_blocks >= 2 AND s > 0
              THEN s * 0.7796968012336293 END AS beta
  FROM agg)
SELECT series, n_blocks,
       round(m, 6) AS mean_max,
       round(CASE WHEN n_blocks >= 2 AND s > 0 THEN s END, 6) AS sd_max,
       round(m - 0.5772156649015329 * beta, 6) AS gumbel_loc,
       round(beta, 6) AS gumbel_scale,
       round((m - 0.5772156649015329 * beta) - beta * (-4.600149226776579), 6) AS return_level
FROM fit
"""


def q_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration of the view vs click daily mean
    value series (operators/temporal.py engle_granger): first-stage
    OLS, then a no-drift ADF on the residuals against the -3.34 EG
    critical value."""
    from knot_another_pipeline_spark.operators.temporal import (
        engle_granger,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.avg("value").alias("v"))
    y = daily.filter(F.col("event_type") == "view").select(
        "day", F.col("v").alias("y")
    )
    x = daily.filter(F.col("event_type") == "click").select(
        "day", F.col("v").alias("x")
    )
    return engle_granger(
        y.join(x, "day"), order_col="day", y_col="y", x_col="x"
    )


ORACLE_ENGLE_GRANGER = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, avg(CAST(value AS DOUBLE)) AS v
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY 1, 2),
pairs AS (
  SELECT y.day, y.v AS yv, x.v AS xv
  FROM (SELECT day, v FROM daily WHERE event_type = 'view') y
  JOIN (SELECT day, v FROM daily WHERE event_type = 'click') x
    ON y.day = x.day),
mom AS (
  SELECT count(*) * 1.0 AS n, sum(xv) AS sx, sum(yv) AS sy,
         sum(xv * xv) AS sxx, sum(xv * yv) AS sxy
  FROM pairs),
coef AS (
  SELECT n,
         CASE WHEN n >= 4 AND (sxx - sx * sx / n) > 0
              THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) END AS beta,
         sy / n
           - (CASE WHEN n >= 4 AND (sxx - sx * sx / n) > 0
                   THEN (sxy - sx * sy / n) / (sxx - sx * sx / n) END)
             * sx / n AS alpha
  FROM mom),
resid AS (
  SELECT p.day, p.yv - c.alpha - c.beta * p.xv AS r, c.n, c.beta, c.alpha
  FROM pairs p CROSS JOIN coef c),
lagged AS (
  SELECT r, lag(r) OVER (ORDER BY day) AS rlag
  FROM resid),
adf AS (
  SELECT count(*) * 1.0 AS m,
         sum(rlag * (r - rlag)) AS srd,
         sum(rlag * rlag) AS srr,
         sum((r - rlag) * (r - rlag)) AS sdd
  FROM lagged WHERE rlag IS NOT NULL),
tt AS (
  SELECT c.n, c.beta, c.alpha, a.m, a.srr,
         a.srd / a.srr AS gamma,
         sqrt((a.sdd - (a.srd / a.srr) * a.srd) / (a.m - 1.0) / a.srr)
           AS se
  FROM coef c LEFT JOIN adf a ON TRUE)
SELECT CAST(n AS BIGINT) AS n,
       round(beta, 6) AS beta,
       round(alpha, 6) AS alpha,
       round(CASE WHEN m >= 3 AND srr > 0 AND se > 0
                  THEN gamma / se END, 6) AS adf_t,
       (CASE WHEN m >= 3 AND srr > 0 AND se > 0
             THEN gamma / se END) < -3.34e0 AS cointegrated_5pct
FROM tt
"""


def q_h_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier h-index of line quantities (operators/quality.py
    h_index): the largest h with >= h lines of >= h units — depth x
    volume in one integer, one rank window + one aggregate."""
    from knot_another_pipeline_spark.operators.quality import h_index

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_quantity",
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("rid"),
    )
    return h_index(
        li,
        group_cols=["l_suppkey"],
        value_col="l_quantity",
        id_col="rid",
    )


ORACLE_H_INDEX = """
WITH ranked AS (
  SELECT l_suppkey, CAST(l_quantity AS DOUBLE) AS v,
         row_number() OVER (
           PARTITION BY l_suppkey
           ORDER BY CAST(l_quantity AS DOUBLE) DESC,
                    (l_orderkey * 100 + l_linenumber) ASC) AS rn
  FROM lineitem WHERE l_quantity IS NOT NULL)
SELECT l_suppkey,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN v >= rn THEN 1 ELSE 0 END) AS BIGINT)
         AS h_index,
       round(sum(CASE WHEN v >= rn THEN 1 ELSE 0 END) / sqrt(count(*)),
             6) AS h_ratio
FROM ranked GROUP BY 1
"""


QUERIES = {
    # round-11 additions: product-analytics ledgers, inequality/
    # concentration, heavy-tail index, EB shrinkage, peaks, RBO
    "dau_mau": q_dau_mau,
    "growth_accounting": q_growth_accounting,
    "activity_streaks": q_activity_streaks,
    "theil_index": q_theil_index,
    "hill_tail_index": q_hill_tail_index,
    "eb_shrinkage": q_eb_shrinkage,
    "lorenz_curve": q_lorenz_curve,
    "peak_detection": q_peak_detection,
    "rank_biased_overlap": q_rank_biased_overlap,
    "herfindahl_index": q_herfindahl_index,
    "gumbel_maxima": q_gumbel_maxima,
    "engle_granger": q_engle_granger,
    "h_index": q_h_index,
    # round-10 additions: drift/unit-root/spectral/runs/seasonal series
    # diagnostics, paired & k-sample rank tests, permutation inference,
    # survival hazard + log-rank, bounded harmonic centrality
    "page_hinkley": q_page_hinkley,
    "dickey_fuller": q_dickey_fuller,
    "spectral_entropy": q_spectral_entropy,
    "runs_test": q_runs_test,
    "seasonal_strength": q_seasonal_strength,
    "wilcoxon_pairs": q_wilcoxon_pairs,
    "friedman_rank": q_friedman_rank,
    "mood_median": q_mood_median,
    "permutation_diff": q_permutation_diff,
    "nelson_aalen": q_nelson_aalen,
    "log_rank": q_log_rank,
    "harmonic_centrality": q_harmonic_centrality,
    "anderson_darling": q_anderson_darling,
    "krippendorff_alpha": q_krippendorff_alpha,
    "l_diversity": q_l_diversity,
    "tost_equivalence": q_tost_equivalence,
    "mantel_haenszel": q_mantel_haenszel,
    "heaps_law": q_heaps_law,
    "tail_dependence": q_tail_dependence,
    "control_chart": q_control_chart,
    "abc_classes": q_abc_classes,
    "rouge_bigram": q_rouge_bigram,
    "token_jsd": q_token_jsd,
    "distribution_overlap": q_distribution_overlap,
    "cliffs_delta": q_cliffs_delta,
    # round-9 additions: exact substring dedup with first-copy retention
    # + per-source duplication scorecard + the NINE remaining classic
    # TPC-H plan shapes (Q2, Q3, Q7, Q8, Q9, Q11, Q15, Q16, Q20)
    # round-10 candidate additions (queued after the pinned round-9
    # driver window; they lead the round-10 window):
    "heavy_hitters": q_heavy_hitters,
    "isotonic_calibration": q_isotonic_calibration,
    "cuped_readout": q_cuped_readout,
    "theil_sen": q_theil_sen,
    "holt_forecast": q_holt_forecast,
    "fdr_adjust": q_fdr_adjust,
    "mann_kendall": q_mann_kendall,
    "kruskal_wallis": q_kruskal_wallis,
    "jackknife_ratio": q_jackknife_ratio,
    "capture_recapture": q_capture_recapture,
    "mcnemar_readout": q_mcnemar_readout,
    "cochran_q": q_cochran_q,
    "hosmer_lemeshow": q_hosmer_lemeshow,
    "mde_power": q_mde_power,
    "oneway_anova": q_oneway_anova,
    "levene_test": q_levene_test,
    "periodogram": q_periodogram,
    "lag_correlation": q_lag_correlation,
    "hilbert_key": q_hilbert_key,
    "layout_pruning": q_layout_pruning,
    "msprt_readout": q_msprt_readout,
    "qte_readout": q_qte_readout,
    "lsh_tuning": q_lsh_tuning,
    "srm_check": q_srm_check,
    "holm_adjust": q_holm_adjust,
    "forecast_revenue": q_forecast_revenue,
    "returned_revenue": q_returned_revenue,
    "priority_linestatus": q_priority_linestatus,
    "promo_revenue": q_promo_revenue,
    "assortativity": q_assortativity,
    "reciprocity": q_reciprocity,
    "ljung_box": q_ljung_box,
    "hurst_exponent": q_hurst_exponent,
    "delong_auc": q_delong_auc,
    "fleiss_kappa": q_fleiss_kappa,
    "energy_drift": q_energy_drift,
    "twonn_dim": q_twonn_dim,
    "smd_balance": q_smd_balance,
    "deterministic_walks": q_deterministic_walks,
    "reach_census": q_reach_census,
    "substring_dedup": q_substring_dedup,
    "duplication_rate": q_duplication_rate,
    "dedup_clean_text": q_dedup_clean_text,
    "min_cost_supplier": q_min_cost_supplier,
    "important_stock": q_important_stock,
    "top_supplier_revenue": q_top_supplier_revenue,
    "supplier_part_variety": q_supplier_part_variety,
    "dominant_part_suppliers": q_dominant_part_suppliers,
    "window_funnel": q_window_funnel,
    "average_precision": q_average_precision,
    "split_contamination": q_split_contamination,
    "shipping_priority": q_shipping_priority,
    "nation_trade_volume": q_nation_trade_volume,
    "market_share": q_market_share,
    "product_profit": q_product_profit,
    # round-8 additions: TPC-H-derived plan shapes + tests/validity/
    # trajectory readouts
    "order_priority": q_order_priority,
    "customer_distribution": q_customer_distribution,
    "small_qty_revenue": q_small_qty_revenue,
    "big_order_customers": q_big_order_customers,
    "disjunctive_revenue": q_disjunctive_revenue,
    "waiting_suppliers": q_waiting_suppliers,
    "idle_customers": q_idle_customers,
    "mann_whitney": q_mann_whitney,
    "kendall_profiles": q_kendall_profiles,
    "silhouette": q_silhouette,
    "regression_report": q_regression_report,
    "brier_decomposition": q_brier_decomposition,
    "signal_gaps": q_signal_gaps,
    "od_matrix": q_od_matrix,
    "track_sinuosity": q_track_sinuosity,
    # round-7 additions: model evaluation, preference data, loss weights
    "classification_report": q_classification_report,
    "conformal_threshold": q_conformal_threshold,
    "bradley_terry": q_bradley_terry,
    "class_weights": q_class_weights,
    "boilerplate_lines": q_boilerplate_lines,
    "segment_dedup": q_segment_dedup,
    "knn_label_noise": q_knn_label_noise,
    "dim_truncation": q_dim_truncation,
    "pareto_front": q_pareto_front,
    "group_fairness": q_group_fairness,
    "cumulative_users": q_cumulative_users,
    "blocking_quality": q_blocking_quality,
    "shard_moves": q_shard_moves,
    # round-6 additions: distribution tests, agreement, uplift, bigram LM,
    # novelty, HITS, k-core, record-linkage weights
    "ks_drift": q_ks_drift,
    "label_agreement": q_label_agreement,
    "uplift_deciles": q_uplift_deciles,
    "bigram_lm": q_bigram_lm,
    "ngram_novelty": q_ngram_novelty,
    "hits_authority": q_hits_authority,
    "k_core_parts": q_k_core,
    "linkage_weights": q_linkage_weights,
    "mmr_diversify": q_mmr_diversify,
    "dedup_prf": q_dedup_prf,
    "linkage_scores": q_linkage_scores,
    "containment_pairs": q_containment_pairs,
    "linkage_em": q_linkage_em,
    "woe_iv": q_woe_iv,
    "label_propagation": q_label_propagation,
    "tokenizer_fertility": q_tokenizer_fertility,
    "doc_keywords": q_doc_keywords,
    "covisitation_llr": q_covisitation_llr,
    "personalized_pagerank": q_personalized_pagerank,
    "ranking_metrics": q_ranking_metrics,
    "hll_distinct": q_hll_distinct,
    "cluster_quality": q_cluster_quality,
    "join_health": q_join_health,
    "sorted_neighborhood": q_sorted_neighborhood,
    "bootstrap_ci": q_bootstrap_ci,
    "categorical_psi": q_categorical_psi,
    "pca_power": q_pca_power,
    "correlation_matrix": q_correlation_matrix,
    "effective_sample_size": q_effective_sample_size,
    "slice_diversity": q_slice_diversity,
    "random_projection": q_random_projection,
    "changepoint": q_changepoint,
    "max_concurrency": q_max_concurrency,
    "weighted_quantiles": q_weighted_quantiles,
    "ips_policy_value": q_ips_policy_value,
    "dedup_summary": q_dedup_summary,
    "zipf_fit": q_zipf_fit,
    "source_terms": q_source_terms,
    "oov_rate": q_oov_rate,
    "join_cardinality": q_join_cardinality,
    "dbscan_grid": q_dbscan_grid,
    "quantile_normalize": q_quantile_normalize,
    "proportion_test": q_proportion_test,
    "reweight_to_target": q_reweight_to_target,
    "audience_overlap": q_audience_overlap,
    "cluster_purity": q_cluster_purity,
    "seasonal_naive_error": q_seasonal_naive_error,
    "profile_drift": q_profile_drift,
    "fano_burstiness": q_fano_burstiness,
    "embedding_drift": q_embedding_drift,
    "rank_movers": q_rank_movers,
    "binned_mutual_info": q_binned_mutual_info,
    "dedup_pr_curve": q_dedup_pr_curve,
    "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
    "wasserstein_drift": q_wasserstein_drift,
    "poisson_rate_ci": q_poisson_rate_ci,
    "track_length": q_track_length,
    "community_quality": q_community_quality,
    # AIS gold pipeline
    "ais_hourly": q_ais_hourly,
    "pairs_monthly": q_pairs_monthly,
    "pairs_total": q_pairs_total,
    "track_export": q_track_export,
    "track_paths": q_track_paths,
    "dedup_latest": q_dedup_latest,
    "daily_counts": q_daily_counts,
    "normalize_ts": q_normalize_ts,
    "stable_bucket": q_stable_bucket,
    # relational coverage
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "regional_volume": q_regional_volume,
    "customers_with_orders": q_customers_with_orders,
    "customers_without_orders": q_customers_without_orders,
    "top_order_per_customer": q_top_order_per_customer,
    "sessionize": q_sessionize,
    "event_breakdown": q_event_breakdown,
    "user_set_ops": q_user_set_ops,
    "value_percentiles": q_value_percentiles,
    # text + dedup
    "text_stats": q_text_stats,
    "lang_id": q_lang_id,
    "repetition_stats": q_repetition_stats,
    "quality_filter": q_quality_filter,
    "corpus_prep": q_corpus_prep,
    "hash_sample": q_hash_sample,
    "split_assign": q_split_assign,
    "token_budget": q_token_budget,
    "domain_mix": q_domain_mix,
    "shard_assign": q_shard_assign,
    "exact_dedup": q_exact_dedup,
    "minhash_signatures": q_minhash_signatures,
    "minhash_pairs": q_minhash_pairs,
    "ngram_jaccard": q_ngram_jaccard,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "token_counts": q_token_counts,
    "doc_fingerprint": q_doc_fingerprint,
    "winnow_fingerprint": q_winnow_fingerprint,
    "embedding_dedup": q_embedding_dedup,
    "semantic_dedup": q_semantic_dedup,
    "contamination": q_contamination,
    "dedup_components": q_dedup_components,
    "pii_scrub": q_pii_scrub,
    "clean_lines": q_clean_lines,
    # similarity
    "knn_bruteforce": q_knn_bruteforce,
    "ann_lsh": q_ann_lsh,
    "ivf_ann": q_ivf_ann,
    # multimodal
    "media_meta": q_media_meta,
    "media_frames": q_media_frames,
    "media_features": q_media_features,
    "media_resize": q_media_resize,
    "media_chunks": q_media_chunks,
    # incremental dedup + LM quality scoring + layout
    "stratified_cap": q_stratified_cap,
    "histogram_drift": q_histogram_drift,
    "embedding_centroids": q_embedding_centroids,
    "length_percentile_rank": q_length_percentile_rank,
    "chunk_documents": q_chunk_documents,
    "grouped_topk": q_grouped_topk,
    "snapshot_diff": q_snapshot_diff,
    "track_interpolate": q_track_interpolate,
    "salted_agg": q_salted_agg,
    "histogram_quantiles": q_histogram_quantiles,
    "zorder_key": q_zorder_key,
    "incremental_dedup": q_incremental_dedup,
    "lm_score": q_lm_score,
    # warehouse maintenance + profiling
    "upsert": q_upsert,
    "grouped_totals": q_grouped_totals,
    "weighted_sample": q_weighted_sample,
    "value_histogram": q_value_histogram,
    # temporal joins + sketches
    "asof_join": q_asof_join,
    "range_join": q_range_join,
    "rolling_stats": q_rolling_stats,
    "kmv_distinct": q_kmv_distinct,
    # search
    "keyword_search": q_keyword_search,
    # r5: CDC / SCD2 / interval / corpus-stats / anomaly family
    "cdc_apply": q_cdc_apply,
    "scd2_history": q_scd2_history,
    "interval_merge": q_interval_merge,
    # r5: reshaping / behavioral / skew-join / fuzzy / calendar / json
    "pivot_daily": q_pivot_daily,
    "unpivot_metrics": q_unpivot_metrics,
    "period_over_period": q_period_over_period,
    "funnel_steps": q_funnel_steps,
    "cohort_retention": q_cohort_retention,
    "skew_join": q_skew_join,
    "fuzzy_match": q_fuzzy_match,
    "resample_daily": q_resample_daily,
    "json_extract_stats": q_json_extract_stats,
    "reaggregate_monthly": q_reaggregate_monthly,
    "ntile_deciles": q_ntile_deciles,
    "normalize_docs": q_normalize_docs,
    "pagerank": q_pagerank,
    "journey_topk": q_journey_topk,
    "ngram_topk": q_ngram_topk,
    "anomaly_zscore": q_anomaly_zscore,
    # data quality
    "table_profile": q_table_profile,
    "dq_reconcile": q_dq_reconcile,
    "contract_checks": q_contract_checks,
    # r5: retrieval / collocations / prefix-filter join / decay / winsorize
    "bm25_search": q_bm25_search,
    "pmi_topk": q_pmi_topk,
    "prefix_jaccard": q_prefix_jaccard,
    "decayed_engagement": q_decayed_engagement,
    "winsorized_stats": q_winsorized_stats,
    "triangle_stats": q_triangle_stats,
    "radius_pairs": q_radius_pairs,
    "quantize_embeddings": q_quantize_embeddings,
    "kmv_rollup": q_kmv_rollup,
    "speed_filter": q_speed_filter,
    "build_vocab": q_build_vocab,
    "encode_documents": q_encode_documents,
    "dwell_segments": q_dwell_segments,
    "stratified_sample": q_stratified_sample,
    "conversion_attribution": q_conversion_attribution,
    "hybrid_search": q_hybrid_search,
    "bloom_prune": q_bloom_prune,
    # round-5 final additions: packing / clustering / link prediction /
    # consensus labels / canonical dedup
    "pack_sequences": q_pack_sequences,
    "kmeans_step": q_kmeans_step,
    "link_prediction": q_link_prediction,
    "label_vote": q_label_vote,
    "canonical_docs": q_canonical_docs,
    "temperature_mix": q_temperature_mix,
    "k_anonymity": q_k_anonymity,
    "sketch_overlap": q_sketch_overlap,
    "zone_assign": q_zone_assign,
    "phrase_search": q_phrase_search,
    "time_weighted_avg": q_time_weighted_avg,
    "target_encode": q_target_encode,
    "hash_features": q_hash_features,
    "benford": q_benford,
    # round-5 closing additions: data selection / ANN evaluation /
    # lexical diversity / robust outliers
    "dsir_weights": q_dsir_weights,
    "ann_recall": q_ann_recall,
    "token_entropy": q_token_entropy,
    "mad_outliers": q_mad_outliers,
    "media_phash": q_media_phash,
    "bpe_merges": q_bpe_merges,
    "repeated_spans": q_repeated_spans,
    "negative_samples": q_negative_samples,
    "next_event_examples": q_next_event_examples,
    "bpe_encode": q_bpe_encode,
    "ab_test": q_ab_test,
    "ewma_alarm": q_ewma_alarm,
    "scd2_as_of": q_scd2_as_of,
    "dataset_card": q_dataset_card,
    "scd2_lookup": q_scd2_lookup,
    # round-5 continuation: sequence / survival / trend / change-point /
    # market-basket analytics
    "markov_transitions": q_markov_transitions,
    "survival_curve": q_survival_curve,
    "trend_fit": q_trend_fit,
    "cusum_alarm": q_cusum_alarm,
    "basket_rules": q_basket_rules,
    "cms_counts": q_cms_counts,
    "seasonal_daily": q_seasonal_daily,
    "spearman_hour": q_spearman_hour,
    "gini_concentration": q_gini_concentration,
    "acf_daily": q_acf_daily,
    "did_readout": q_did_readout,
    "chi2_independence": q_chi2_independence,
    "feature_gain": q_feature_gain,
    "rfm_segments": q_rfm_segments,
    "funnel_timing": q_funnel_timing,
    "readability": q_readability,
    "auc_scores": q_auc_scores,
    "calibration_curve": q_calibration_curve,
    "lift_table": q_lift_table,
    "psi_stability": q_psi_stability,
    "weighted_median": q_weighted_median,
}

ORACLES = {
    "dau_mau": ORACLE_DAU_MAU,
    "growth_accounting": ORACLE_GROWTH_ACCOUNTING,
    "activity_streaks": ORACLE_ACTIVITY_STREAKS,
    "theil_index": ORACLE_THEIL_INDEX,
    "hill_tail_index": ORACLE_HILL_TAIL_INDEX,
    "eb_shrinkage": ORACLE_EB_SHRINKAGE,
    "lorenz_curve": ORACLE_LORENZ_CURVE,
    "peak_detection": ORACLE_PEAK_DETECTION,
    "rank_biased_overlap": ORACLE_RANK_BIASED_OVERLAP,
    "herfindahl_index": ORACLE_HERFINDAHL_INDEX,
    "gumbel_maxima": ORACLE_GUMBEL_MAXIMA,
    "engle_granger": ORACLE_ENGLE_GRANGER,
    "h_index": ORACLE_H_INDEX,
    "page_hinkley": ORACLE_PAGE_HINKLEY,
    "dickey_fuller": ORACLE_DICKEY_FULLER,
    "spectral_entropy": ORACLE_SPECTRAL_ENTROPY,
    "runs_test": ORACLE_RUNS_TEST,
    "seasonal_strength": ORACLE_SEASONAL_STRENGTH,
    "wilcoxon_pairs": ORACLE_WILCOXON_PAIRS,
    "friedman_rank": ORACLE_FRIEDMAN_RANK,
    "mood_median": ORACLE_MOOD_MEDIAN,
    "permutation_diff": ORACLE_PERMUTATION_DIFF,
    "nelson_aalen": ORACLE_NELSON_AALEN,
    "log_rank": ORACLE_LOG_RANK,
    "harmonic_centrality": ORACLE_HARMONIC_CENTRALITY,
    "anderson_darling": ORACLE_ANDERSON_DARLING,
    "krippendorff_alpha": ORACLE_KRIPPENDORFF_ALPHA,
    "l_diversity": ORACLE_L_DIVERSITY,
    "tost_equivalence": ORACLE_TOST_EQUIVALENCE,
    "mantel_haenszel": ORACLE_MANTEL_HAENSZEL,
    "heaps_law": ORACLE_HEAPS_LAW,
    "tail_dependence": ORACLE_TAIL_DEPENDENCE,
    "control_chart": ORACLE_CONTROL_CHART,
    "abc_classes": ORACLE_ABC_CLASSES,
    "rouge_bigram": ORACLE_ROUGE_BIGRAM,
    "token_jsd": ORACLE_TOKEN_JSD,
    "distribution_overlap": ORACLE_DISTRIBUTION_OVERLAP,
    "cliffs_delta": ORACLE_CLIFFS_DELTA,
    # round-9 additions
    "heavy_hitters": ORACLE_HEAVY_HITTERS,
    "isotonic_calibration": ORACLE_ISOTONIC_CALIBRATION,
    "cuped_readout": ORACLE_CUPED_READOUT,
    "theil_sen": ORACLE_THEIL_SEN,
    "holt_forecast": ORACLE_HOLT_FORECAST,
    "fdr_adjust": ORACLE_FDR_ADJUST,
    "mann_kendall": ORACLE_MANN_KENDALL,
    "kruskal_wallis": ORACLE_KRUSKAL_WALLIS,
    "jackknife_ratio": ORACLE_JACKKNIFE_RATIO,
    "capture_recapture": ORACLE_CAPTURE_RECAPTURE,
    "mcnemar_readout": ORACLE_MCNEMAR_READOUT,
    "cochran_q": ORACLE_COCHRAN_Q,
    "hosmer_lemeshow": ORACLE_HOSMER_LEMESHOW,
    "mde_power": ORACLE_MDE_POWER,
    "oneway_anova": ORACLE_ONEWAY_ANOVA,
    "levene_test": ORACLE_LEVENE_TEST,
    "periodogram": ORACLE_PERIODOGRAM,
    "lag_correlation": ORACLE_LAG_CORRELATION,
    "hilbert_key": ORACLE_HILBERT_KEY,
    "layout_pruning": ORACLE_LAYOUT_PRUNING,
    "msprt_readout": ORACLE_MSPRT_READOUT,
    "qte_readout": ORACLE_QTE_READOUT,
    "lsh_tuning": ORACLE_LSH_TUNING,
    "srm_check": ORACLE_SRM_CHECK,
    "holm_adjust": ORACLE_HOLM_ADJUST,
    "forecast_revenue": ORACLE_FORECAST_REVENUE,
    "returned_revenue": ORACLE_RETURNED_REVENUE,
    "priority_linestatus": ORACLE_PRIORITY_LINESTATUS,
    "promo_revenue": ORACLE_PROMO_REVENUE,
    "assortativity": ORACLE_ASSORTATIVITY,
    "reciprocity": ORACLE_RECIPROCITY,
    "ljung_box": ORACLE_LJUNG_BOX,
    "hurst_exponent": ORACLE_HURST_EXPONENT,
    "delong_auc": ORACLE_DELONG_AUC,
    "fleiss_kappa": ORACLE_FLEISS_KAPPA,
    "energy_drift": ORACLE_ENERGY_DRIFT,
    "twonn_dim": ORACLE_TWONN_DIM,
    "smd_balance": ORACLE_SMD_BALANCE,
    "deterministic_walks": ORACLE_DETERMINISTIC_WALKS,
    "reach_census": ORACLE_REACH_CENSUS,
    "substring_dedup": ORACLE_SUBSTRING_DEDUP,
    "duplication_rate": ORACLE_DUPLICATION_RATE,
    "dedup_clean_text": ORACLE_DEDUP_CLEAN_TEXT,
    "min_cost_supplier": ORACLE_MIN_COST_SUPPLIER,
    "important_stock": ORACLE_IMPORTANT_STOCK,
    "top_supplier_revenue": ORACLE_TOP_SUPPLIER_REVENUE,
    "supplier_part_variety": ORACLE_SUPPLIER_PART_VARIETY,
    "dominant_part_suppliers": ORACLE_DOMINANT_PART_SUPPLIERS,
    "window_funnel": ORACLE_WINDOW_FUNNEL,
    "average_precision": ORACLE_AVERAGE_PRECISION,
    "split_contamination": ORACLE_SPLIT_CONTAMINATION,
    "shipping_priority": ORACLE_SHIPPING_PRIORITY,
    "nation_trade_volume": ORACLE_NATION_TRADE_VOLUME,
    "market_share": ORACLE_MARKET_SHARE,
    "product_profit": ORACLE_PRODUCT_PROFIT,
    # round-8 additions
    "order_priority": ORACLE_ORDER_PRIORITY,
    "customer_distribution": ORACLE_CUSTOMER_DISTRIBUTION,
    "small_qty_revenue": ORACLE_SMALL_QTY_REVENUE,
    "big_order_customers": ORACLE_BIG_ORDER_CUSTOMERS,
    "disjunctive_revenue": ORACLE_DISJUNCTIVE_REVENUE,
    "waiting_suppliers": ORACLE_WAITING_SUPPLIERS,
    "idle_customers": ORACLE_IDLE_CUSTOMERS,
    "mann_whitney": ORACLE_MANN_WHITNEY,
    "kendall_profiles": ORACLE_KENDALL_PROFILES,
    "silhouette": ORACLE_SILHOUETTE,
    "regression_report": ORACLE_REGRESSION_REPORT,
    "brier_decomposition": ORACLE_BRIER_DECOMPOSITION,
    "signal_gaps": ORACLE_SIGNAL_GAPS,
    "od_matrix": ORACLE_OD_MATRIX,
    "track_sinuosity": ORACLE_TRACK_SINUOSITY,
    # round-7 additions
    "classification_report": ORACLE_CLASSIFICATION_REPORT,
    "conformal_threshold": ORACLE_CONFORMAL_THRESHOLD,
    "bradley_terry": ORACLE_BRADLEY_TERRY,
    "class_weights": ORACLE_CLASS_WEIGHTS,
    "boilerplate_lines": ORACLE_BOILERPLATE_LINES,
    "segment_dedup": ORACLE_SEGMENT_DEDUP,
    "knn_label_noise": ORACLE_KNN_LABEL_NOISE,
    "dim_truncation": ORACLE_DIM_TRUNCATION,
    "pareto_front": ORACLE_PARETO_FRONT,
    "group_fairness": ORACLE_GROUP_FAIRNESS,
    "cumulative_users": ORACLE_CUMULATIVE_USERS,
    "blocking_quality": ORACLE_BLOCKING_QUALITY,
    "shard_moves": ORACLE_SHARD_MOVES,
    "ks_drift": ORACLE_KS_DRIFT,
    "label_agreement": ORACLE_LABEL_AGREEMENT,
    "uplift_deciles": ORACLE_UPLIFT_DECILES,
    "bigram_lm": ORACLE_BIGRAM_LM,
    "ngram_novelty": ORACLE_NGRAM_NOVELTY,
    "hits_authority": ORACLE_HITS_AUTHORITY,
    "k_core_parts": ORACLE_K_CORE,
    "linkage_weights": ORACLE_LINKAGE_WEIGHTS,
    "mmr_diversify": ORACLE_MMR_DIVERSIFY,
    "dedup_prf": ORACLE_DEDUP_PRF,
    "linkage_scores": ORACLE_LINKAGE_SCORES,
    "containment_pairs": ORACLE_CONTAINMENT_PAIRS,
    "linkage_em": ORACLE_LINKAGE_EM,
    "woe_iv": ORACLE_WOE_IV,
    "label_propagation": ORACLE_LABEL_PROPAGATION,
    "tokenizer_fertility": ORACLE_TOKENIZER_FERTILITY,
    "doc_keywords": ORACLE_DOC_KEYWORDS,
    "covisitation_llr": ORACLE_COVISITATION_LLR,
    "personalized_pagerank": ORACLE_PERSONALIZED_PAGERANK,
    "ranking_metrics": ORACLE_RANKING_METRICS,
    "hll_distinct": ORACLE_HLL_DISTINCT,
    "cluster_quality": ORACLE_CLUSTER_QUALITY,
    "join_health": ORACLE_JOIN_HEALTH,
    "sorted_neighborhood": ORACLE_SORTED_NEIGHBORHOOD,
    "bootstrap_ci": ORACLE_BOOTSTRAP_CI,
    "categorical_psi": ORACLE_CATEGORICAL_PSI,
    "pca_power": ORACLE_PCA_POWER,
    "correlation_matrix": ORACLE_CORRELATION_MATRIX,
    "effective_sample_size": ORACLE_EFFECTIVE_SAMPLE_SIZE,
    "slice_diversity": ORACLE_SLICE_DIVERSITY,
    "random_projection": ORACLE_RANDOM_PROJECTION,
    "changepoint": ORACLE_CHANGEPOINT,
    "max_concurrency": ORACLE_MAX_CONCURRENCY,
    "weighted_quantiles": ORACLE_WEIGHTED_QUANTILES,
    "ips_policy_value": ORACLE_IPS_POLICY_VALUE,
    "dedup_summary": ORACLE_DEDUP_SUMMARY,
    "zipf_fit": ORACLE_ZIPF_FIT,
    "source_terms": ORACLE_SOURCE_TERMS,
    "oov_rate": ORACLE_OOV_RATE,
    "join_cardinality": ORACLE_JOIN_CARDINALITY,
    "dbscan_grid": ORACLE_DBSCAN_GRID,
    "quantile_normalize": ORACLE_QUANTILE_NORMALIZE,
    "proportion_test": ORACLE_PROPORTION_TEST,
    "reweight_to_target": ORACLE_REWEIGHT_TO_TARGET,
    "audience_overlap": ORACLE_AUDIENCE_OVERLAP,
    "cluster_purity": ORACLE_CLUSTER_PURITY,
    "seasonal_naive_error": ORACLE_SEASONAL_NAIVE_ERROR,
    "profile_drift": ORACLE_PROFILE_DRIFT,
    "fano_burstiness": ORACLE_FANO_BURSTINESS,
    "embedding_drift": ORACLE_EMBEDDING_DRIFT,
    "rank_movers": ORACLE_RANK_MOVERS,
    "binned_mutual_info": ORACLE_BINNED_MUTUAL_INFO,
    "dedup_pr_curve": ORACLE_DEDUP_PR_CURVE,
    "tfidf_cosine_pairs": ORACLE_TFIDF_COSINE_PAIRS,
    "wasserstein_drift": ORACLE_WASSERSTEIN_DRIFT,
    "poisson_rate_ci": ORACLE_POISSON_RATE_CI,
    "track_length": ORACLE_TRACK_LENGTH,
    "community_quality": ORACLE_COMMUNITY_QUALITY,
    "ais_hourly": ORACLE_AIS_HOURLY,
    "pairs_monthly": ORACLE_PAIRS_MONTHLY,
    "pairs_total": ORACLE_PAIRS_TOTAL,
    "track_export": ORACLE_TRACK_EXPORT,
    "track_paths": ORACLE_TRACK_PATHS,
    "dedup_latest": ORACLE_DEDUP_LATEST,
    "daily_counts": ORACLE_DAILY_COUNTS,
    "normalize_ts": ORACLE_NORMALIZE_TS,
    "stable_bucket": ORACLE_STABLE_BUCKET,
    "pricing_summary": ORACLE_PRICING_SUMMARY,
    "top_customers": ORACLE_TOP_CUSTOMERS,
    "regional_volume": ORACLE_REGIONAL_VOLUME,
    "customers_with_orders": ORACLE_CUSTOMERS_WITH_ORDERS,
    "customers_without_orders": ORACLE_CUSTOMERS_WITHOUT_ORDERS,
    "top_order_per_customer": ORACLE_TOP_ORDER_PER_CUSTOMER,
    "sessionize": ORACLE_SESSIONIZE,
    "event_breakdown": ORACLE_EVENT_BREAKDOWN,
    "user_set_ops": ORACLE_USER_SET_OPS,
    "value_percentiles": ORACLE_VALUE_PERCENTILES,
    "text_stats": ORACLE_TEXT_STATS,
    "lang_id": ORACLE_LANG_ID,
    "repetition_stats": ORACLE_REPETITION_STATS,
    "quality_filter": ORACLE_QUALITY_FILTER,
    "corpus_prep": ORACLE_CORPUS_PREP,
    "hash_sample": ORACLE_HASH_SAMPLE,
    "split_assign": ORACLE_SPLIT_ASSIGN,
    "token_budget": ORACLE_TOKEN_BUDGET,
    "domain_mix": ORACLE_DOMAIN_MIX,
    "shard_assign": ORACLE_SHARD_ASSIGN,
    "exact_dedup": ORACLE_EXACT_DEDUP,
    "minhash_signatures": ORACLE_MINHASH_SIGNATURES,
    "minhash_pairs": ORACLE_MINHASH_PAIRS,
    "ngram_jaccard": ORACLE_NGRAM_JACCARD,
    "simhash": ORACLE_SIMHASH,
    "simhash_pairs": ORACLE_SIMHASH_PAIRS,
    "token_counts": ORACLE_TOKEN_COUNTS,
    "doc_fingerprint": ORACLE_DOC_FINGERPRINT,
    "winnow_fingerprint": ORACLE_WINNOW_FINGERPRINT,
    "embedding_dedup": ORACLE_EMBEDDING_DEDUP,
    "semantic_dedup": ORACLE_SEMANTIC_DEDUP,
    "contamination": ORACLE_CONTAMINATION,
    "dedup_components": ORACLE_DEDUP_COMPONENTS,
    "pii_scrub": ORACLE_PII_SCRUB,
    "clean_lines": ORACLE_CLEAN_LINES,
    "knn_bruteforce": ORACLE_KNN_BRUTEFORCE,
    "ann_lsh": ORACLE_ANN_LSH,
    "ivf_ann": ORACLE_IVF_ANN,
    "media_meta": ORACLE_MEDIA_META,
    "media_frames": ORACLE_MEDIA_FRAMES,
    "media_features": ORACLE_MEDIA_FEATURES,
    "media_resize": ORACLE_MEDIA_RESIZE,
    "media_chunks": ORACLE_MEDIA_CHUNKS,
    "stratified_cap": ORACLE_STRATIFIED_CAP,
    "histogram_drift": ORACLE_HISTOGRAM_DRIFT,
    "embedding_centroids": ORACLE_EMBEDDING_CENTROIDS,
    "length_percentile_rank": ORACLE_LENGTH_PERCENTILE_RANK,
    "chunk_documents": ORACLE_CHUNK_DOCUMENTS,
    "grouped_topk": ORACLE_GROUPED_TOPK,
    "snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "track_interpolate": ORACLE_TRACK_INTERPOLATE,
    "salted_agg": ORACLE_SALTED_AGG,
    "histogram_quantiles": ORACLE_HISTOGRAM_QUANTILES,
    "zorder_key": ORACLE_ZORDER_KEY,
    "incremental_dedup": ORACLE_INCREMENTAL_DEDUP,
    "lm_score": ORACLE_LM_SCORE,
    "upsert": ORACLE_UPSERT,
    "grouped_totals": ORACLE_GROUPED_TOTALS,
    "weighted_sample": ORACLE_WEIGHTED_SAMPLE,
    "value_histogram": ORACLE_VALUE_HISTOGRAM,
    "asof_join": ORACLE_ASOF_JOIN,
    "range_join": ORACLE_RANGE_JOIN,
    "rolling_stats": ORACLE_ROLLING_STATS,
    "kmv_distinct": ORACLE_KMV_DISTINCT,
    "keyword_search": ORACLE_KEYWORD_SEARCH,
    "cdc_apply": ORACLE_CDC_APPLY,
    "scd2_history": ORACLE_SCD2_HISTORY,
    "interval_merge": ORACLE_INTERVAL_MERGE,
    "pivot_daily": ORACLE_PIVOT_DAILY,
    "unpivot_metrics": ORACLE_UNPIVOT_METRICS,
    "period_over_period": ORACLE_PERIOD_OVER_PERIOD,
    "funnel_steps": ORACLE_FUNNEL_STEPS,
    "cohort_retention": ORACLE_COHORT_RETENTION,
    "skew_join": ORACLE_SKEW_JOIN,
    "fuzzy_match": ORACLE_FUZZY_MATCH,
    "resample_daily": ORACLE_RESAMPLE_DAILY,
    "json_extract_stats": ORACLE_JSON_EXTRACT_STATS,
    "reaggregate_monthly": ORACLE_REAGGREGATE_MONTHLY,
    "ntile_deciles": ORACLE_NTILE_DECILES,
    "normalize_docs": ORACLE_NORMALIZE_DOCS,
    "pagerank": ORACLE_PAGERANK,
    "journey_topk": ORACLE_JOURNEY_TOPK,
    "ngram_topk": ORACLE_NGRAM_TOPK,
    "anomaly_zscore": ORACLE_ANOMALY_ZSCORE,
    "table_profile": ORACLE_TABLE_PROFILE,
    "dq_reconcile": ORACLE_DQ_RECONCILE,
    "contract_checks": ORACLE_CONTRACT_CHECKS,
    "bm25_search": ORACLE_BM25_SEARCH,
    "pmi_topk": ORACLE_PMI_TOPK,
    "prefix_jaccard": ORACLE_PREFIX_JACCARD,
    "decayed_engagement": ORACLE_DECAYED_ENGAGEMENT,
    "winsorized_stats": ORACLE_WINSORIZED_STATS,
    "triangle_stats": ORACLE_TRIANGLE_STATS,
    "radius_pairs": ORACLE_RADIUS_PAIRS,
    "quantize_embeddings": ORACLE_QUANTIZE_EMBEDDINGS,
    "kmv_rollup": ORACLE_KMV_ROLLUP,
    "speed_filter": ORACLE_SPEED_FILTER,
    "build_vocab": ORACLE_BUILD_VOCAB,
    "encode_documents": ORACLE_ENCODE_DOCUMENTS,
    "dwell_segments": ORACLE_DWELL_SEGMENTS,
    "stratified_sample": ORACLE_STRATIFIED_SAMPLE,
    "conversion_attribution": ORACLE_CONVERSION_ATTRIBUTION,
    "hybrid_search": ORACLE_HYBRID_SEARCH,
    "bloom_prune": ORACLE_BLOOM_PRUNE,
    "pack_sequences": ORACLE_PACK_SEQUENCES,
    "kmeans_step": ORACLE_KMEANS_STEP,
    "link_prediction": ORACLE_LINK_PREDICTION,
    "label_vote": ORACLE_LABEL_VOTE,
    "canonical_docs": ORACLE_CANONICAL_DOCS,
    "temperature_mix": ORACLE_TEMPERATURE_MIX,
    "k_anonymity": ORACLE_K_ANONYMITY,
    "sketch_overlap": ORACLE_SKETCH_OVERLAP,
    "zone_assign": ORACLE_ZONE_ASSIGN,
    "phrase_search": ORACLE_PHRASE_SEARCH,
    "time_weighted_avg": ORACLE_TIME_WEIGHTED_AVG,
    "target_encode": ORACLE_TARGET_ENCODE,
    "hash_features": ORACLE_HASH_FEATURES,
    "benford": ORACLE_BENFORD,
    "dsir_weights": ORACLE_DSIR_WEIGHTS,
    "ann_recall": ORACLE_ANN_RECALL,
    "token_entropy": ORACLE_TOKEN_ENTROPY,
    "mad_outliers": ORACLE_MAD_OUTLIERS,
    "media_phash": ORACLE_MEDIA_PHASH,
    "bpe_merges": ORACLE_BPE_MERGES,
    "repeated_spans": ORACLE_REPEATED_SPANS,
    "negative_samples": ORACLE_NEGATIVE_SAMPLES,
    "next_event_examples": ORACLE_NEXT_EVENT_EXAMPLES,
    "bpe_encode": ORACLE_BPE_ENCODE,
    "ab_test": ORACLE_AB_TEST,
    "ewma_alarm": ORACLE_EWMA_ALARM,
    "scd2_as_of": ORACLE_SCD2_AS_OF,
    "dataset_card": ORACLE_DATASET_CARD,
    "scd2_lookup": ORACLE_SCD2_LOOKUP,
    "markov_transitions": ORACLE_MARKOV_TRANSITIONS,
    "survival_curve": ORACLE_SURVIVAL_CURVE,
    "trend_fit": ORACLE_TREND_FIT,
    "cusum_alarm": ORACLE_CUSUM_ALARM,
    "basket_rules": ORACLE_BASKET_RULES,
    "cms_counts": ORACLE_CMS_COUNTS,
    "seasonal_daily": ORACLE_SEASONAL_DAILY,
    "spearman_hour": ORACLE_SPEARMAN_HOUR,
    "gini_concentration": ORACLE_GINI_CONCENTRATION,
    "acf_daily": ORACLE_ACF_DAILY,
    "did_readout": ORACLE_DID_READOUT,
    "chi2_independence": ORACLE_CHI2_INDEPENDENCE,
    "feature_gain": ORACLE_FEATURE_GAIN,
    "rfm_segments": ORACLE_RFM_SEGMENTS,
    "funnel_timing": ORACLE_FUNNEL_TIMING,
    "readability": ORACLE_READABILITY,
    "auc_scores": ORACLE_AUC_SCORES,
    "calibration_curve": ORACLE_CALIBRATION_CURVE,
    "lift_table": ORACLE_LIFT_TABLE,
    "psi_stability": ORACLE_PSI_STABILITY,
    "weighted_median": ORACLE_WEIGHTED_MEDIAN,
}
