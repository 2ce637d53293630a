"""Round pins for iterative operators whose size estimate must not grow.

A ``localCheckpoint`` keeps its plan's estimated ``sizeInBytes``, and
without CBO a join estimates the PRODUCT of its inputs' sizes, so a
round-pinned iterate multiplies its estimate every round: about 19 digits
a round in ``pagerank``, ``personalized_pagerank``, ``label_propagation``
and a ``kmeans_step`` loop, and ``bradley_terry``'s iterate, joined twice
a round, squares it. Past round one these estimates already exceed any
broadcast threshold, so resetting them changes no join strategy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pin_without_stats(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)`` that forgets ``df``'s size
    estimate.

    The pinned rows are re-wrapped as a fresh relation over the pin's
    internal rows (no per-row conversion), whose estimate is the session
    default. Where the JVM handle is unavailable (Spark Connect) the
    plain pin is returned. Like any local checkpoint, the pin cannot be
    recomputed after executor loss.
    """
    pinned = df.localCheckpoint(eager=False)
    spark = df.sparkSession
    try:
        jdf = pinned._jdf
        jspark = spark._jsparkSession
    except AttributeError:
        return pinned
    return DataFrame(
        jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        ),
        spark,
    )
