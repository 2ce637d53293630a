"""Silver-layer ingestion: raw CSV archives → normalized partitioned parquet.

Reference: the pandas/pyarrow ingestion engine
(``/root/reference/pipelines/ais_pipeline.py``): archive demux
(zip members :399-417, zstd streams :418-432), chunked CSV parse (:459),
case-insensitive column resolution (:44-60,106-117), UTC timestamp
coercion with drop-on-unparsable (:495-508), lineage enrichment
(:500-507), partition-key derivation (:511-514), sha256 bucketing
(:517-518), and append-only Hive-partitioned parquet writes (:538-554).

Spark-first shape: ``spark.read.csv`` replaces the chunked parse (Spark's
input-split partitioning IS the chunking — the reference's 200k-row knob
disappears); ``.csv.zst`` decompresses natively via the Hadoop zstd codec;
zip archives (not a Hadoop codec) demux through ``binaryFile`` +
``mapInPandas``. One declarative pipeline replaces the per-chunk loop, so
Catalyst pushes projection into the scan and the whole ingest runs
parallel per file split — the reference processes chunks sequentially on
one core.

Both readers read every column as a string; :func:`to_silver` types them
against one declared contract (``schema.SILVER_COLUMNS``), as the
reference pins its CSV dtypes, so silver's types never follow a file's values.
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

from knot_another_pipeline_spark.functions.hashing import hash64, stable_bucket
from knot_another_pipeline_spark.functions.timestamps import normalize_timestamp
from knot_another_pipeline_spark.schema import (
    SILVER_COLUMNS,
    normalize_columns,
    snake_case,
)


def read_csv_auto(spark: SparkSession, path: str) -> DataFrame:
    """Distributed CSV read with a header, every column a string; handles
    plain and ``.zst`` files transparently (built-in Hadoop codec). No
    type inference: it costs a second scan, and :func:`to_silver` types."""
    return spark.read.csv(path, header=True)


def read_zip_csv(spark: SparkSession, path: str) -> DataFrame:
    """ZIP-archive CSV ingest (S6): Spark has no zip codec, so archives
    load as ``binaryFile`` rows and each executor demuxes its archives'
    members with mapInPandas — all columns read as string (the reference
    also defers typing to later stages). Adds ``source_member`` lineage.

    At scale each archive is one task — parallelism is per-archive, which
    matches the reference's per-file loop but runs them concurrently.
    """
    bin_df = spark.read.format("binaryFile").load(path)

    # Schema discovery: peek at the first member on the driver (cheap —
    # metadata-only listing + one member header). Member headers vary in
    # spelling (FIXTURES.md F1), so every member's header is snake_cased
    # and its declared columns renamed to silver's names; each member then
    # reindexes to the declared names plus the first member's other
    # columns (missing → NULL, other extras dropped).
    sample = bin_df.select("content", "path").limit(1).collect()
    if not sample:
        raise FileNotFoundError(f"no zip files at {path}")
    with zipfile.ZipFile(io.BytesIO(sample[0]["content"])) as zf:
        first_csv = next(m for m in zf.namelist() if m.lower().endswith(".csv"))
        with zf.open(first_csv) as fh:
            import pandas as pd

            head = pd.read_csv(io.TextIOWrapper(fh, encoding="utf-8"), nrows=0)
    header = [snake_case(c) for c in head.columns]
    first_hits = _alias_hits(header)
    if "mmsi" not in first_hits or "base_date_time" not in first_hits:
        raise ValueError(f"cannot resolve uid/timestamp columns in {header}")
    declared = [n for n, _, _ in SILVER_COLUMNS]
    data_cols = declared + [
        c for c in header if c not in {*declared, *first_hits.values()}
    ]

    def demux(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            for _, row in pdf.iterrows():
                with zipfile.ZipFile(io.BytesIO(row["content"])) as zf:
                    for member in zf.namelist():
                        if not member.lower().endswith(".csv"):
                            continue
                        with zf.open(member) as fh:
                            part = pd.read_csv(
                                io.TextIOWrapper(fh, encoding="utf-8"), dtype=str
                            )
                        part.columns = [snake_case(c) for c in part.columns]
                        hits = _alias_hits(list(part.columns))
                        # A declared name that lost to a better alias is
                        # left out, as to_silver leaves it out.
                        part = part.drop(
                            columns=[
                                c for c in declared if c in part.columns
                                and c not in hits.values()
                            ]
                        ).rename(columns={h: n for n, h in hits.items()})
                        part = part.reindex(columns=data_cols)
                        part["source_member"] = member
                        part["source_file"] = row["path"]
                        yield part

    schema = StructType(
        [StructField(c, StringType(), True) for c in data_cols]
        + [
            StructField("source_member", StringType(), True),
            StructField("source_file", StringType(), True),
        ]
    )
    return bin_df.select("content", "path").mapInPandas(demux, schema)


def _alias_hits(header: list[str]) -> dict[str, str]:
    """Each declared column (``schema.SILVER_COLUMNS``) found in a
    snake_cased header → its first alias hit there."""
    hits = {}
    for name, _, aliases in SILVER_COLUMNS:
        hit = next((a for a in aliases if a in header), None)
        if hit is not None:
            hits[name] = hit
    return hits


def to_silver(
    df: DataFrame,
    *,
    source_url: str | None = None,
    num_buckets: int = 96,
) -> DataFrame:
    """Normalize a raw AIS-shaped DataFrame to the silver contract
    (``docs/data_contracts.md``): each declared column found by its alias
    ladder, renamed and ``try_cast`` (junk and absent columns → typed
    NULL), other columns snake_cased strings, parsed UTC ``event_ts``
    (rows without an id or a parsable timestamp dropped), lineage,
    partition keys (year/month/day from the *record* timestamp)
    and the stable ``bucket_id``.
    """
    normalized = normalize_columns(df)
    hits = _alias_hits(normalized.columns)
    if "mmsi" not in hits or "base_date_time" not in hits:
        raise ValueError(
            f"cannot resolve uid/timestamp columns in {normalized.columns}"
        )
    declared = [
        (F.col(hits[n]).try_cast(t) if n in hits else F.lit(None).cast(t)).alias(n)
        for n, t, _ in SILVER_COLUMNS
    ]
    taken = {*(n for n, _, _ in SILVER_COLUMNS), *hits.values()}
    rest = [
        F.col(c).cast("string").alias(c) for c in normalized.columns if c not in taken
    ]
    return (
        normalized.select(*declared, *rest)
        .withColumn("event_ts", normalize_timestamp("base_date_time"))
        .withColumn(
            "source_file",
            F.col("source_file")
            if "source_file" in normalized.columns
            else F.input_file_name(),
        )
        .withColumn("source_url", F.lit(source_url))
        .withColumn("ingested_at", F.current_timestamp())
        .filter(F.col("mmsi").isNotNull() & F.col("event_ts").isNotNull())
        .withColumn("year", F.year("event_ts"))
        .withColumn("month", F.month("event_ts"))
        .withColumn("day", F.dayofmonth("event_ts"))
        .withColumn("bucket_id", stable_bucket(F.col("mmsi"), num_buckets))
    )


def read_jsonl(spark: SparkSession, path: str, *, schema=None) -> DataFrame:
    """JSON-lines ingest — the de-facto training-corpus interchange
    format. Spark's native json source splits files on newlines, so
    parallelism is per input split exactly like the CSV path (S8). Pass
    an explicit ``schema`` at scale: schema inference is a full extra
    pass over the data (the same reason the reference pins dtypes on its
    CSV reads, ``ais_pipeline.py:459``)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def to_documents(
    df: DataFrame,
    *,
    id_col: str = "id",
    text_col: str = "text",
    lang_col: str | None = None,
    source: str | None = None,
) -> DataFrame:
    """Normalize an arbitrary document batch to the ``documents`` table
    contract (doc_id BIGINT, text, lang, source, n_chars) — the document
    analog of :func:`to_silver`. Null/blank texts are kept (filtering is
    the quality operators' job, not ingest's).

    Non-numeric ids (UUIDs, URL slugs — common for JSONL corpora) don't
    cast to BIGINT; a plain cast would yield doc_id=NULL for every row
    and downstream keyed joins (quality keep, dedup reps, shard
    assignment) would silently drop the whole corpus. Instead the cast
    falls back to the deterministic :func:`~..functions.hashing.hash64`
    of the string id, so doc_id is non-null whenever the input id is —
    the same string→bigint strategy assign_cells/assign_shards use.
    Numeric ids are unaffected (bit-identical to the plain cast).
    ``try_cast`` (not ``cast``) probes numeric-ness: under ANSI mode
    (the Spark 4 default) a plain cast *throws* on the first UUID rather
    than returning NULL, so the fallback would never be reached.
    """
    raw_id = F.col(id_col)
    numeric_id = raw_id.try_cast("bigint")
    doc_id = F.when(numeric_id.isNotNull(), numeric_id).when(
        raw_id.isNotNull(), hash64(raw_id)
    )
    text = F.col(text_col).cast("string")
    return df.select(
        doc_id.cast("bigint").alias("doc_id"),
        text.alias("text"),
        (
            F.col(lang_col).cast("string") if lang_col else F.lit(None).cast("string")
        ).alias("lang"),
        F.lit(source).cast("string").alias("source"),
        F.length(text).cast("bigint").alias("n_chars"),
    )


def read_silver(spark: SparkSession, root: str) -> DataFrame:
    """Silver read-back with schema-drift merge.

    The declared columns (``schema.SILVER_COLUMNS``) hold one type in
    every silver file, so they always merge. ``mergeSchema`` stays for
    the undeclared ones, all strings: NOAA file generations add and drop
    columns (``docs/data_contracts.md:31``), and the reference's Glue
    crawler opts into ``CombineCompatibleSchemas``
    (``infra/terraform/ais_glue_catalog/main.tf:120``). The read unions
    all part-file footers, so a column added in a later generation is
    visible (NULL for older files) instead of silently vanishing when the
    sampled footer predates it. Footer merging is metadata-only — a
    distributed schema-merge job at scale, no data read.
    """
    return spark.read.option("mergeSchema", "true").parquet(root)


def write_silver(df: DataFrame, root: str, *, mode: str = "append") -> None:
    """Append-only Hive-partitioned parquet (S9): partition columns leave
    the row data and live in the path, exactly the reference layout
    (``bronze…/year=/month=/day=/bucket_id=``). Task retries replace the
    reference's manual S3 backoff loop (S10)."""
    (
        df.write.mode(mode)
        .partitionBy("year", "month", "day", "bucket_id")
        .parquet(root)
    )
