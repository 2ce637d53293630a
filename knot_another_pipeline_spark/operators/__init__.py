"""Analytic operators — the reference's gold-layer queries and the
training-data-pipeline extensions, as composable DataFrame transforms."""

from knot_another_pipeline_spark.operators.rollup import build_uid_hourly_h3  # noqa: F401
from knot_another_pipeline_spark.operators.pairs import co_movement_pairs, pairs_total  # noqa: F401
from knot_another_pipeline_spark.operators.tracks import export_tracks, assemble_paths  # noqa: F401
from knot_another_pipeline_spark.operators.dedup import latest_row_dedup, exact_dedup  # noqa: F401
