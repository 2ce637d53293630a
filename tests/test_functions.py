"""Unit tests: timestamp normalizer corpus, stable bucketing, geo cells."""

from __future__ import annotations

import datetime as dt
import hashlib

from pyspark.sql import functions as F

from knot_another_pipeline_spark.functions.geo import grid_cell, valid_coords
from knot_another_pipeline_spark.functions.hashing import (
    content_fingerprint,
    hash64,
    hash_hex,
    stable_bucket,
)
from knot_another_pipeline_spark.functions.timestamps import normalize_timestamp

EXPECTED = dt.datetime(2025, 1, 1, 7, 14, 59)

# FIXTURES.md F1a corpus
TS_CASES = [
    ("2025-01-01 07:14:59", EXPECTED),
    ("2025-01-01T07:14:59", EXPECTED),
    ("2025-01-01 07:14:59Z", EXPECTED),
    ("2025-01-01T07:14:59+00:00", EXPECTED),
    ("2025-01-01 07:14:59-0500", dt.datetime(2025, 1, 1, 12, 14, 59)),
    ("2025-01-01T02:14:59-05:00", dt.datetime(2025, 1, 1, 7, 14, 59)),
    ("not-a-date", None),
    ("", None),
    ("2025-13-45 99:99:99", None),
]


def test_normalize_timestamp_corpus(spark):
    df = spark.createDataFrame([(s,) for s, _ in TS_CASES], "raw string")
    got = {
        r["raw"]: r["parsed"]
        for r in df.withColumn("parsed", normalize_timestamp("raw")).collect()
    }
    for raw, want in TS_CASES:
        assert got[raw] == want, f"{raw!r}: {got[raw]} != {want}"


def test_stable_bucket_bit_exact_with_reference_law(spark):
    """Must equal int(sha256(str(x)).hexdigest()[:16], 16) % n
    (ais_pipeline.py:532-535)."""
    values = ["123456789", "987654321", "0", "abc", "367001234"]
    df = spark.createDataFrame([(v,) for v in values], "mmsi string")
    got = {
        r["mmsi"]: r["b"]
        for r in df.select(
            "mmsi", stable_bucket(F.col("mmsi"), 96).alias("b")
        ).collect()
    }
    for v in values:
        want = int(hashlib.sha256(v.encode()).hexdigest()[:16], 16) % 96
        assert got[v] == want, f"{v}: {got[v]} != {want}"


def test_hash64_matches_md5_law(spark):
    df = spark.createDataFrame([("hello",)], "s string")
    row = df.select(
        hash64(F.col("s"), 3).alias("h"), hash_hex(F.col("s"), 3).alias("hx")
    ).collect()[0]
    digest = hashlib.md5(b"3:hello").hexdigest()
    assert row["h"] == int(digest[:15], 16)
    assert row["hx"] == digest[:15]


def test_grid_cell_contract(spark):
    """15 hex chars; equal cells iff same grid cell at the resolution."""
    df = spark.createDataFrame(
        [(37.7749, -122.4194), (37.7750, -122.4195), (38.9, -77.0)],
        "lat double, lon double",
    )
    rows = df.select(grid_cell("lat", "lon", 7).alias("c")).collect()
    cells = [r["c"] for r in rows]
    assert all(len(c) == 15 for c in cells)
    assert all(all(ch in "0123456789abcdef" for ch in c) for c in cells)
    assert cells[0] == cells[1]  # ~100 m apart → same res-7 cell
    assert cells[0] != cells[2]  # different city


def test_valid_coords(spark):
    df = spark.createDataFrame(
        [(0.0, 0.0, True), (91.5, 0.0, False), (-90.0, -180.0, True),
         (45.0, 181.0, False)],
        "lat double, lon double, want boolean",
    )
    rows = df.withColumn("ok", valid_coords("lat", "lon")).collect()
    for r in rows:
        assert r["ok"] == r["want"]


def test_content_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",), ("different text",)],
        "t string",
    )
    fps = [r["f"] for r in df.select(content_fingerprint("t").alias("f")).collect()]
    assert fps[0] == fps[1]
    assert fps[0] != fps[2]


def _estimate(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_round_pins_keep_size_estimate_bounded(spark):
    """A round-pinned iterate's size estimate does not grow with the round
    count: with a plain ``localCheckpoint`` it gained ~19 digits a round."""
    from knot_another_pipeline_spark.functions.pins import pin_without_stats
    from knot_another_pipeline_spark.operators.graph import (
        label_propagation,
        pagerank,
    )
    from knot_another_pipeline_spark.operators.similarity import kmeans_step

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 30) for i in range(30)]
        + [(i, (i + 1) % 30) for i in range(30)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0, "x"), (15, "y")], "node long, label string")
    for run in (
        lambda k: pagerank(edges, iterations=k, checkpoint_each=True),
        lambda k: label_propagation(edges, seeds, iterations=k),
    ):
        assert _estimate(run(8)) == _estimate(run(2)) < 2**63

    vecs = spark.createDataFrame(
        [(i, [i % 5 + 1.0, i % 3 + 1.0, i % 7 + 1.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )

    def kmeans(rounds):
        out = kmeans_step(vecs, num_centroids=3)
        for _ in range(rounds):
            cents = pin_without_stats(out.select(
                F.col("cell").alias("cent_id"),
                F.col("new_centroid").alias("centv"),
            ))
            out = kmeans_step(vecs, centroids=cents)
        return out

    assert _estimate(kmeans(8)) == _estimate(kmeans(2))
