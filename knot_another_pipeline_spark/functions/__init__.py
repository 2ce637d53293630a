"""Scalar expression library — built-in Column expressions first.

Everything here returns ``pyspark.sql.Column`` built from
``pyspark.sql.functions`` so the hot path stays inside whole-stage codegen;
pandas UDFs appear only where Python is semantically required (optional
h3-py encoding).
"""

from knot_another_pipeline_spark.functions.timestamps import (  # noqa: F401
    as_timestamp,
    normalize_timestamp,
)
from knot_another_pipeline_spark.functions.geo import (  # noqa: F401
    grid_cell,
    h3_cell,
    valid_coords,
)
from knot_another_pipeline_spark.functions.hashing import (  # noqa: F401
    stable_bucket,
    content_fingerprint,
    hash64,
)
