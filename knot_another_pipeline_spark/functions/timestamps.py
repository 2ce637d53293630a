"""Tiered timestamp normalization.

Reimplements the reference's tiered Trino normalizer
(``/root/reference/sql/gold/create_uid_hourly_h3.sql:30-43``, repeated at
``refresh_gold_tables.py:101-114`` and ``export_tracks_to_explore.py:39-53``):

    COALESCE(
      TRY_CAST(ts AS TIMESTAMP),
      TRY_CAST(from_iso8601_timestamp(CASE
        WHEN regexp_like(ts, 'T.*(Z|[+-]\\d\\d:?\\d\\d)$') THEN ts
        WHEN regexp_like(ts, 'T') THEN ts || 'Z'
        ELSE replace(ts, ' ', 'T') || 'Z' END) AS TIMESTAMP))

accepted variants (FIXTURES.md F1a): ``2025-01-01 07:14:59``,
``2025-01-01T07:14:59``, ``2025-01-01 07:14:59Z``,
``2025-01-01T07:14:59+00:00``, ``2025-01-01 07:14:59-0500``; anything
unparsable → NULL (and is dropped downstream, ``ais_pipeline.py:508``).

Spark-first shape: a COALESCE of ``try_to_timestamp`` attempts over an
explicit format ladder — pure built-ins, codegen-friendly, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

# Normalized (space→T stripped back to space) candidate patterns, most
# common first so the COALESCE short-circuits early on real data.
_PLAIN_FORMATS = (
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd HH:mm:ss.SSSSSS",
    "yyyy-MM-dd HH:mm:ss.SSS",
    "yyyy-MM-dd HH:mm",
    "yyyy-MM-dd",
)
# Offset-bearing patterns run against the zone-canonicalized string
# (XXX = +05:00, XX = -0500; Z is rewritten to +00:00 first).
_OFFSET_FORMATS = (
    "yyyy-MM-dd HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ssXX",
    "yyyy-MM-dd HH:mm:ss.SSSXXX",
)

_ZONE_SUFFIX = r"(Z|[+-]\d{2}:?\d{2})$"


def normalize_timestamp(col: Column | str) -> Column:
    """Parse a mixed-format timestamp string to TIMESTAMP, NULL on failure.

    Mirrors the reference's ladder: plain formats for zone-free strings,
    ISO-8601 offset parsing (shifting to UTC) for zone-suffixed ones. The
    ``T`` separator is canonicalized to a space first so one format list
    covers both spellings. Zone-suffixed strings never fall through to the
    plain parse — that would silently drop the offset.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.trim(c)
    # canonicalize 'T' separator to space; keep any trailing zone designator
    canon = F.regexp_replace(c, r"^(\d{4}-\d{2}-\d{2})[T ]", r"$1 ")
    has_zone = canon.rlike(_ZONE_SUFFIX)
    plain = F.coalesce(
        *[F.try_to_timestamp(canon, F.lit(f)) for f in _PLAIN_FORMATS]
    )
    zoned_str = F.regexp_replace(canon, r"Z$", "+00:00")
    zoned = F.coalesce(
        *[F.try_to_timestamp(zoned_str, F.lit(f)) for f in _OFFSET_FORMATS]
    )
    return F.when(has_zone, zoned).otherwise(plain)


def as_timestamp(df: DataFrame, col: str) -> Column:
    """``df[col]`` as a TIMESTAMP, decided from the schema: a TIMESTAMP
    column passes as is (silver's parsed ``event_ts``), anything else goes
    through :func:`normalize_timestamp`."""
    if isinstance(df.schema[col].dataType, TimestampType):
        return F.col(col)
    return normalize_timestamp(col)


def partition_date(year, month, day):
    """Reconstruct a DATE from Hive partition key columns (P17) — the
    reference formats ``%04d-%02d-%02d`` strings and parses them back
    (``refresh_gold_tables.py:496-507``); ``make_date`` is the direct
    Spark expression (NULL on invalid combinations, like the wrapped
    TRY)."""
    y = F.col(year) if isinstance(year, str) else year
    m = F.col(month) if isinstance(month, str) else month
    d = F.col(day) if isinstance(day, str) else day
    # format + null-safe parse — the reference's literal shape; invalid
    # combinations (Feb 29 in a non-leap year) yield NULL, not an error.
    return F.try_to_date(
        F.format_string(
            "%04d-%02d-%02d", y.cast("int"), m.cast("int"), d.cast("int")
        ),
        "yyyy-MM-dd",
    )
