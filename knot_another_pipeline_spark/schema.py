"""Schema helpers: the silver contract, column resolution, name normalization.

The reference resolves timestamp/bucket columns case-insensitively with
fallback alias lists (``/root/reference/pipelines/ais_pipeline.py:44-60,
106-117``; app-side variant ``apps/track_explorer.py:31-46``) and its Glue
crawler lower-snake-cases names (``BaseDateTime`` → ``base_date_time``,
``docs/ais_pipeline.md:14``).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, DoubleType, StringType

#: Default alias ladders, mirroring ais_pipeline.py:44-60.
TIMESTAMP_ALIASES = (
    "basedatetime",
    "base_date_time",
    "basedatetimeutc",
    "base_date_time_utc",
    "timestamp",
    "event_ts",
    "ts",
    "datetime",
    "time",
)
ID_ALIASES = ("mmsi", "uid", "vessel_id", "user_id", "id")
LAT_ALIASES = ("latitude", "lat", "y")
LON_ALIASES = ("longitude", "lon", "lng", "x")
SOG_ALIASES = ("sog", "speed", "speed_over_ground")

#: Silver's typed columns, declared once: canonical name (NOAA's header,
#: snake_cased), Spark type, and the alias ladder ``to_silver`` finds it
#: by. ``base_date_time`` stays the raw string; ``event_ts`` is parsed
#: from it. Every other column reaches silver as a string.
SILVER_COLUMNS: tuple[tuple[str, DataType, tuple[str, ...]], ...] = (
    ("mmsi", StringType(), ID_ALIASES),
    ("base_date_time", StringType(), TIMESTAMP_ALIASES),
    ("lat", DoubleType(), LAT_ALIASES),
    ("lon", DoubleType(), LON_ALIASES),
    ("sog", DoubleType(), SOG_ALIASES),
    ("cog", DoubleType(), ("cog",)),
    ("heading", DoubleType(), ("heading",)),
)


def resolve_column(df: DataFrame, *candidates: str) -> str | None:
    """Return the first actual column whose lowercase name matches any
    candidate (in candidate priority order), else None."""
    by_lower = {}
    for name in df.columns:
        by_lower.setdefault(name.lower(), name)
    for cand in candidates:
        hit = by_lower.get(cand.lower())
        if hit is not None:
            return hit
    return None


def snake_case(name: str) -> str:
    """Glue-crawler-style normalization: CamelCase → lower_snake_case
    (``BaseDateTime`` → ``base_date_time``, ``LAT`` → ``lat``)."""
    s = re.sub(r"(.)([A-Z][a-z]+)", r"\1_\2", name)
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", s)
    s = re.sub(r"[^0-9a-zA-Z]+", "_", s)
    return s.lower().strip("_")


def normalize_columns(df: DataFrame) -> DataFrame:
    """Rename every column to its snake_case form (collision-safe: later
    duplicates get a numeric suffix)."""
    seen: dict[str, int] = {}
    cols = []
    for name in df.columns:
        base = snake_case(name)
        n = seen.get(base, 0)
        seen[base] = n + 1
        cols.append(F.col(name).alias(base if n == 0 else f"{base}_{n}"))
    return df.select(*cols)
