"""Silver ingest (CSV + zip demux) and Structured Streaming parity tests."""

from __future__ import annotations

import io
import os
import zipfile
from datetime import datetime

import pytest
from pyspark.sql import functions as F

CSV_TEXT = """MMSI,BaseDateTime,LAT,LON,SOG,VesselName
111000111,2025-01-01 00:10:00,10.0,20.0,5.0,ALPHA
111000111,2025-01-01 01:10:00,10.1,20.1,5.5,ALPHA
222000222,2025-01-01T00:20:00,11.0,21.0,6.0,BRAVO
222000222,2025-01-02 00:20:00Z,11.5,21.5,6.5,BRAVO
333000333,not-a-date,12.0,22.0,7.0,JUNK
,2025-01-01 05:00:00,13.0,23.0,8.0,NOID
"""

# header-variant file: different column spellings (FIXTURES.md F1)
CSV_VARIANT = """mmsi,BaseDateTimeUTC,LAT,LON,SOG
444000444,2025-01-03 10:00:00,14.0,24.0,9.0
"""


def test_csv_silver_ingest(spark, tmp_path):
    from knot_another_pipeline_spark.sources.ingest import read_csv_auto, to_silver

    p = tmp_path / "day1.csv"
    p.write_text(CSV_TEXT)
    silver = to_silver(read_csv_auto(spark, str(p)), source_url="http://x/day1")
    rows = silver.collect()
    # junk ts + null mmsi dropped
    assert {r["mmsi"] for r in rows} == {"111000111", "222000222"}
    for r in rows:
        assert r["event_ts"] is not None
        assert r["year"] == 2025 and r["month"] == 1
        assert 0 <= r["bucket_id"] < 96
        assert r["source_url"] == "http://x/day1"
        assert r["source_file"]
    # partition key from record timestamp, not file
    days = {r["mmsi"]: set() for r in rows}
    for r in rows:
        days[r["mmsi"]].add(r["day"])
    assert days["222000222"] == {1, 2}


def test_header_variant_alias_resolution(spark, tmp_path):
    from knot_another_pipeline_spark.sources.ingest import read_csv_auto, to_silver

    p = tmp_path / "variant.csv"
    p.write_text(CSV_VARIANT)
    silver = to_silver(read_csv_auto(spark, str(p)))
    rows = silver.collect()
    assert rows[0]["mmsi"] == "444000444"
    assert rows[0]["event_ts"].hour == 10


def test_zip_ingest(spark, tmp_path):
    from knot_another_pipeline_spark.sources.ingest import read_zip_csv, to_silver

    zpath = tmp_path / "archive.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("a.csv", CSV_TEXT)
        zf.writestr("b.csv", CSV_VARIANT.replace("BaseDateTimeUTC", "BaseDateTime"))
        zf.writestr("readme.txt", "ignore me")
    raw = read_zip_csv(spark, str(zpath))
    assert "source_member" in raw.columns
    members = {r["source_member"] for r in raw.select("source_member").collect()}
    assert members == {"a.csv", "b.csv"}
    silver = to_silver(raw)
    uids = {r["mmsi"] for r in silver.collect()}
    assert uids == {"111000111", "222000222", "444000444"}


def test_zip_later_member_keeps_declared_column(spark, tmp_path):
    """A declared column that only a later member carries reaches
    silver: the first member's header does not decide the declared
    columns, and each member's aliases map to silver's names."""
    from knot_another_pipeline_spark.sources.ingest import read_zip_csv, to_silver

    zpath = tmp_path / "two_members.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr(
            "a.csv", "MMSI,BaseDateTime,LAT,LON\n111,2025-01-01 00:10:00,10.0,20.0\n"
        )
        zf.writestr(
            "b.csv",
            "mmsi,BASEDATETIME,Latitude,Longitude,COG\n"
            "222,2025-01-01 00:20:00,11.0,21.0,45.5\n",
        )
    rows = {
        r["mmsi"]: r
        for r in to_silver(read_zip_csv(spark, str(zpath))).collect()
    }
    assert rows["222"]["cog"] == 45.5
    assert (rows["222"]["lat"], rows["222"]["lon"]) == (11.0, 21.0)
    assert rows["111"]["cog"] is None and rows["111"]["lat"] == 10.0


def test_to_silver_types_an_already_typed_frame(spark):
    """A frame with typed columns (what read_silver's drift test feeds)
    gets the declared types too: declared columns renamed and cast, a
    missing one a typed NULL, undeclared ones strings."""
    from knot_another_pipeline_spark.schema import SILVER_COLUMNS
    from knot_another_pipeline_spark.sources.ingest import to_silver

    typed = spark.createDataFrame(
        [("111", datetime(2025, 1, 1, 0, 10), 10.0, 20.0, 5, 7)],
        "MMSI string, BaseDateTime timestamp, Latitude double, Longitude double,"
        " SOG int, Draft int",
    )
    silver = to_silver(typed)
    dtypes = dict(silver.dtypes)
    assert {n: dtypes[n] for n, _, _ in SILVER_COLUMNS} == {
        n: t.simpleString() for n, t, _ in SILVER_COLUMNS
    }
    assert dtypes["draft"] == "string"
    assert "latitude" not in dtypes and "longitude" not in dtypes
    row = silver.first()
    assert (row["lat"], row["lon"], row["sog"], row["heading"]) == (10.0, 20.0, 5.0, None)
    assert row["event_ts"] == datetime(2025, 1, 1, 0, 10)
    assert row["draft"] == "7"


def test_silver_partitioned_write_roundtrip(spark, tmp_path):
    from knot_another_pipeline_spark.sources.ingest import (
        read_csv_auto,
        to_silver,
        write_silver,
    )

    p = tmp_path / "day1.csv"
    p.write_text(CSV_TEXT)
    silver = to_silver(read_csv_auto(spark, str(p)))
    root = str(tmp_path / "silver")
    write_silver(silver, root)
    # Hive layout on disk: partition dirs, partition cols not in files
    assert any(d.startswith("year=") for d in os.listdir(root))
    back = spark.read.parquet(root)
    assert back.count() == silver.count()
    assert {"year", "month", "day", "bucket_id"} <= set(back.columns)
    # append is additive (reference's append-only contract)
    write_silver(silver, root)
    assert spark.read.parquet(root).count() == 2 * silver.count()


def test_streaming_rollup_matches_batch(spark, tmp_path):
    """The streaming tumbling-window rollup must agree with the batch
    date_trunc rollup on the same (bounded) input."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_windowed_rollup,
    )

    src = tmp_path / "stream_in"
    df = spark.createDataFrame(
        [
            ("A", "2025-01-01 00:10:00", 1.0),
            ("A", "2025-01-01 00:50:00", 3.0),
            ("A", "2025-01-01 01:10:00", 5.0),
            ("B", "2025-01-01 00:30:00", 7.0),
        ],
        "uid string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    rolled = streaming_windowed_rollup(
        stream, uid_col="uid", ts_col="ts", value_col="v"
    )
    q = (
        rolled.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["uid"], r["window_ts"].hour): (r["avg_value"], r["message_count"])
        for r in spark.sql("SELECT * FROM rollup_test").collect()
    }
    assert got[("A", 0)] == (2.0, 2)
    assert got[("A", 1)] == (5.0, 1)
    assert got[("B", 0)] == (7.0, 1)


def test_streaming_co_location_pairs(spark, tmp_path):
    """Streaming co-movement: finalized rollup windows self-join per
    micro-batch; the appended log holds exactly the batch-semantics
    co-located pairs for watermark-passed windows (the far-future
    sentinel advances the watermark and itself stays unfinalized)."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_co_location,
    )

    src = tmp_path / "colo_in"
    # hour 0: A,B share cell c0 (10,20 -> floor/50 = 0); C in c2 (120).
    # hour 1: A,C share cell c5 (260,270); B absent.
    df = spark.createDataFrame(
        [
            ("A", "2025-01-01 00:10:00", 10.0),
            ("B", "2025-01-01 00:40:00", 20.0),
            ("C", "2025-01-01 00:20:00", 120.0),
            ("A", "2025-01-01 01:15:00", 260.0),
            ("C", "2025-01-01 01:45:00", 270.0),
            ("Z", "2025-01-03 00:00:00", 0.0),  # watermark sentinel
        ],
        "uid string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src))

    out = str(tmp_path / "colo_out")
    ckpt = str(tmp_path / "colo_ckpt")
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = streaming_co_location(
        stream,
        uid_col="uid",
        ts_col="ts",
        value_col="v",
        output_path=out,
        checkpoint_path=ckpt,
        watermark="2 hours",
    )
    q.awaitTermination(180)
    got = {
        (r["uid_a"], r["uid_b"], r["window_ts"].hour, r["cell"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {("A", "B", 0, "c0"), ("A", "C", 1, "c5")}


def test_streaming_log_scores_like_batch_pairs(spark, tmp_path):
    """Downstream batch scoring over the epoch-partitioned streaming log
    (via read_co_location_log, which drops the sink-artifact epoch
    column) equals the non-streaming co_movement_pairs result on the
    same finalized windows — the streaming→batch handoff is loss-free."""
    from knot_another_pipeline_spark.operators.pairs import (
        co_movement_pairs,
        score_co_located,
    )
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        read_co_location_log,
        streaming_co_location,
    )

    src = tmp_path / "parity_in"
    df = spark.createDataFrame(
        [
            ("A", "2025-01-01 00:10:00", 10.0),
            ("A", "2025-01-01 00:30:00", 30.0),  # avg 20 -> c0
            ("B", "2025-01-01 00:40:00", 20.0),  # c0
            ("C", "2025-01-01 00:20:00", 120.0),  # c2
            ("A", "2025-01-01 01:15:00", 260.0),  # c5
            ("C", "2025-01-01 01:45:00", 270.0),  # c5
            ("Z", "2025-01-03 00:00:00", 0.0),  # watermark sentinel
        ],
        "uid string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src))

    out = str(tmp_path / "parity_out")
    ckpt = str(tmp_path / "parity_ckpt")
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = streaming_co_location(
        stream,
        uid_col="uid",
        ts_col="ts",
        value_col="v",
        output_path=out,
        checkpoint_path=ckpt,
        watermark="2 hours",
    )
    q.awaitTermination(180)

    log = read_co_location_log(spark, out)
    # schema parity: exactly the batch self-join's columns, no epoch
    assert set(log.columns) == {"uid_a", "uid_b", "window_ts", "cell"}

    # batch rollup over the finalized (watermark-passed) events, built the
    # same way the stream builds it (hour trunc + avg-value cell)
    finalized = df.filter(F.col("uid") != "Z")
    roll = (
        finalized.groupBy(
            "uid", F.date_trunc("hour", "ts").alias("window_ts")
        )
        .agg(F.avg("v").alias("avg_v"))
        .withColumn(
            "cell",
            F.concat(
                F.lit("c"),
                F.floor(F.col("avg_v") / 50.0).cast("bigint").cast("string"),
            ),
        )
        .select("uid", "window_ts", "cell")
    )
    batch_pairs = co_movement_pairs(roll, min_shared_cells=0)

    base = roll.select(
        "uid",
        F.to_date("window_ts").alias("day_date"),
        F.col("window_ts").alias("w"),
        "cell",
    )
    streamed = score_co_located(
        log.select(
            "uid_a", "uid_b", F.to_date("window_ts").alias("day_date"), "cell"
        ),
        base,
        min_shared_cells=0,
    )

    def canon(frame):
        return sorted(tuple(r) for r in frame.collect())

    assert canon(streamed) == canon(batch_pairs)
    assert len(canon(streamed)) == 2  # (A,B) day1 + (A,C) day1


def test_co_location_sink_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the same epoch must not
    duplicate pair rows. The sink writes each epoch as a dynamic-overwrite
    Hive partition, so a replay rewrites in place."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        co_location_pair_writer,
    )

    out = str(tmp_path / "replay_out")
    writer = co_location_pair_writer(out)
    batch = spark.createDataFrame(
        [
            ("A", "2025-01-01 00:00:00", 10.0, 2, "c0"),
            ("B", "2025-01-01 00:00:00", 20.0, 1, "c0"),
            ("C", "2025-01-01 00:00:00", 120.0, 1, "c2"),
        ],
        "uid string, window_ts string, avg_value double, message_count long, cell string",
    ).withColumn("window_ts", F.to_timestamp("window_ts"))

    writer(batch, 7)
    first = [tuple(r) for r in spark.read.parquet(out).collect()]
    writer(batch, 7)  # simulated failure replay of the same micro-batch
    second = [tuple(r) for r in spark.read.parquet(out).collect()]
    assert sorted(first) == sorted(second) and len(second) == 1

    # a later epoch with different data appends, not clobbers
    batch2 = spark.createDataFrame(
        [
            ("A", "2025-01-01 01:00:00", 260.0, 1, "c5"),
            ("C", "2025-01-01 01:00:00", 270.0, 1, "c5"),
        ],
        "uid string, window_ts string, avg_value double, message_count long, cell string",
    ).withColumn("window_ts", F.to_timestamp("window_ts"))
    writer(batch2, 8)
    pairs = {
        (r["uid_a"], r["uid_b"], r["epoch"])
        for r in spark.read.parquet(out).collect()
    }
    assert pairs == {("A", "B", 7), ("A", "C", 8)}


def test_streaming_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState gap sessionizer: two batches of events; the
    second batch's later events advance the watermark so the first
    session times out and is emitted."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_sessionize,
    )

    src = tmp_path / "sess_in"
    src.mkdir()
    df1 = spark.createDataFrame(
        [
            ("A", "2025-01-01 00:00:00"),
            ("A", "2025-01-01 00:10:00"),
            ("A", "2025-01-01 00:20:00"),
            ("B", "2025-01-01 00:05:00"),
        ],
        "uid string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df1.write.mode("append").parquet(str(src))
    # events far in the future: watermark jumps past every open session
    df2 = spark.createDataFrame(
        [("C", "2025-01-02 12:00:00")], "uid string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    df2.write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(df1.schema).parquet(str(src))
    sessions = streaming_sessionize(
        stream, uid_col="uid", ts_col="ts", gap_minutes=30, watermark="1 minute"
    )
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessionize_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM sessionize_test").collect()
    by_uid = {r["uid"]: r for r in rows}
    assert "A" in by_uid, f"no closed session for A: {rows}"
    a = by_uid["A"]
    assert a["n_events"] == 3
    assert a["session_start"].minute == 0 and a["session_end"].minute == 20
    assert by_uid["B"]["n_events"] == 1


def test_streaming_dedup_keeps_first_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate (uid, ts) events collapse
    to the first-seen row; distinct keys all survive."""
    from knot_another_pipeline_spark.streaming.rollup_stream import streaming_dedup

    src = tmp_path / "dedup_in"
    df = spark.createDataFrame(
        [
            ("A", "2025-01-01 00:10:00", 1.0),
            ("A", "2025-01-01 00:10:00", 2.0),  # replay duplicate
            ("A", "2025-01-01 00:20:00", 3.0),
            ("B", "2025-01-01 00:10:00", 4.0),
            ("B", "2025-01-01 00:10:00", 5.0),  # replay duplicate
        ],
        "uid string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    deduped = streaming_dedup(stream, key_cols=["uid", "ts"], ts_col="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT uid, ts, v FROM dedup_test").collect()
    keys = [(r["uid"], r["ts"].minute) for r in rows]
    assert sorted(keys) == [("A", 10), ("A", 20), ("B", 10)]


def test_jsonl_to_documents_contract(spark, tmp_path):
    """JSONL corpus ingest normalizes to the documents-table contract;
    blank text is kept (filtering belongs to the quality operators)."""
    from knot_another_pipeline_spark.sources.ingest import read_jsonl, to_documents

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"id": 1, "text": "hello world", "language": "en"}\n'
        '{"id": 2, "text": "", "language": "fr"}\n'
    )
    docs = to_documents(
        read_jsonl(spark, str(p)),
        id_col="id", text_col="text", lang_col="language", source="unit",
    )
    assert docs.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    got = {r["doc_id"]: r for r in docs.collect()}
    assert got[1]["text"] == "hello world" and got[1]["n_chars"] == 11
    assert got[1]["lang"] == "en" and got[1]["source"] == "unit"
    assert got[2]["n_chars"] == 0

    # explicit schema skips the inference pass (the at-scale path)
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("id", LongType()), StructField("text", StringType()),
         StructField("language", StringType())]
    )
    docs2 = to_documents(
        read_jsonl(spark, str(p), schema=schema),
        id_col="id", text_col="text", lang_col="language",
    )
    assert docs2.count() == 2 and docs2.collect()[0]["source"] is None


def test_streaming_pair_orientation_matches_batch_for_numeric_uids(spark, tmp_path):
    """uids 9 and 10 orient differently under lexicographic ('10' < '9')
    vs numeric (9 < 10) ordering — the streaming rollup must keep native
    id types so its log orients pairs exactly like batch
    co_movement_pairs (review finding r3)."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_co_location,
    )

    src = tmp_path / "orient_in"
    df = spark.createDataFrame(
        [
            (9, "2025-01-01 00:10:00", 10.0),
            (10, "2025-01-01 00:40:00", 20.0),  # same cell c0 as uid 9
            (7, "2025-01-03 00:00:00", 0.0),  # watermark sentinel
        ],
        "uid long, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src))

    q = streaming_co_location(
        spark.readStream.schema(df.schema).parquet(str(src)),
        uid_col="uid",
        ts_col="ts",
        value_col="v",
        output_path=str(tmp_path / "orient_out"),
        checkpoint_path=str(tmp_path / "orient_ckpt"),
        watermark="2 hours",
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(str(tmp_path / "orient_out")).collect()
    assert [(r["uid_a"], r["uid_b"]) for r in rows] == [(9, 10)]  # numeric order
    assert rows[0].asDict()["uid_a"] == 9  # long, not '10' < '9' string


def test_cli_prep_corpus(spark, tmp_path):
    """prep-corpus end-to-end: JSONL in → quality-filtered, deduped,
    split-assigned, sharded parquet out, partitioned by split."""
    import json
    import os

    from knot_another_pipeline_spark.__main__ import main

    src = tmp_path / "corpus.jsonl"
    lines = []
    good = ("the quick brown foxes jumped over the sleeping dogs near "
            "quiet river banks during autumn while the children watched ")
    for i in range(20):
        lines.append(json.dumps({"id": i, "text": good + f"document {i}"}))
    lines.append(json.dumps(
        {"id": 100, "text": good + "contact someone@example.com please today"}
    ))  # carries PII -> must be scrubbed in the output
    lines.append(json.dumps({"id": 101, "text": "tiny"}))  # fails min-tokens
    src.write_text("\n".join(lines) + "\n")

    out = tmp_path / "prepped"
    rc = main([
        "prep-corpus", "--input", str(src), "--output", str(out),
        "--min-tokens", "10", "--tokens-per-shard", "200",
    ])
    assert rc == 0
    back = spark.read.parquet(str(out))
    ids = {r["doc_id"] for r in back.select("doc_id").collect()}
    assert 101 not in ids  # quality-dropped
    assert ids >= set(range(20))
    assert {"split", "shard"} <= set(back.columns)
    assert any(d.startswith("split=") for d in os.listdir(out))
    assert back.select("shard").distinct().count() > 1
    # PII was scrubbed before the text hit the output; the doc must be
    # kept (unconditional — a quality regression dropping it would
    # otherwise silently disable the scrub assertion)
    pii_doc = back.filter(F.col("doc_id") == 100).collect()
    assert len(pii_doc) == 1
    assert "[EMAIL]" in pii_doc[0]["text"]
    assert "@" not in pii_doc[0]["text"]


def test_stateless_text_operators_apply_to_streams(spark, tmp_path):
    """The quality/repetition operators are pure row-wise expressions, so
    they apply unchanged to a readStream — Structured Streaming's unified
    model needs no streaming variants for the stateless text family."""
    import json

    from knot_another_pipeline_spark.operators.text_analysis import (
        quality_filter,
        repetition_stats,
    )

    src = tmp_path / "docs_stream"
    src.mkdir()
    (src / "part.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": "the quick brown foxes jumped over lazy sleeping dogs today"})
        + "\n"
        + json.dumps({"doc_id": 2, "text": "tiny"})
        + "\n"
    )
    schema = "doc_id long, text string"
    stream = spark.readStream.schema(schema).json(str(src))
    assert stream.isStreaming
    verdict = quality_filter(stream, id_col="doc_id", text_col="text", min_tokens=5)
    rep = repetition_stats(stream, id_col="doc_id", text_col="text")
    for df, name in ((verdict, "qf_stream"), (rep, "rep_stream")):
        q = (
            df.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
    got_v = {r["id"]: r["keep"] for r in spark.sql("SELECT * FROM qf_stream").collect()}
    assert got_v[1] is True and got_v[2] is False
    got_r = {r["id"]: r["n_2grams"] for r in spark.sql("SELECT * FROM rep_stream").collect()}
    assert got_r[1] == 9 and got_r[2] == 0  # 10 tokens -> 9 2-grams


def test_contamination_hits_over_stream(spark, tmp_path):
    """The contamination building blocks (shingle explode + broadcast
    join against a static eval set + per-doc count) run unchanged over a
    readStream: stream-static joins + one streaming aggregation."""
    import json

    from knot_another_pipeline_spark.operators.dedup import shingle_table

    src = tmp_path / "contam_stream"
    src.mkdir()
    (src / "docs.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": "leaked the secret benchmark phrase here"})
        + "\n"
        + json.dumps({"doc_id": 2, "text": "completely original writing only"})
        + "\n"
    )
    bench = spark.createDataFrame(
        [(9, "contains the secret benchmark phrase indeed")],
        "doc_id long, text string",
    )
    ev = shingle_table(bench, id_col="doc_id", text_col="text", n=3).select(
        "shingle"
    ).distinct()

    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    hits = (
        shingle_table(stream, id_col="doc_id", text_col="text", n=3)
        .join(F.broadcast(ev), "shingle")
        .groupBy("id")
        .count()
    )
    q = (
        hits.writeStream.format("memory").queryName("contam_hits")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r["id"]: r["count"] for r in spark.sql("SELECT * FROM contam_hits").collect()}
    assert got.get(1, 0) >= 2  # "the secret benchmark" + "secret benchmark phrase"
    assert 2 not in got


def test_to_documents_string_id_hash_fallback(spark, tmp_path):
    """UUID/slug ids don't cast to BIGINT; to_documents must hash them to
    a deterministic non-null doc_id instead of silently nulling the whole
    corpus (advice r3). Numeric ids stay bit-identical to a plain cast."""
    from knot_another_pipeline_spark.functions.hashing import hash64
    from knot_another_pipeline_spark.sources.ingest import to_documents

    df = spark.createDataFrame(
        [
            ("d41d8cd9-8f00-3204-a980-0998ecf8427e", "uuid doc"),
            ("https://example.com/a", "slug doc"),
            ("42", "numeric-string doc"),
            (None, "orphan doc"),
        ],
        "id string, text string",
    )
    docs = to_documents(df, id_col="id", text_col="text", source="unit")
    got = {r["text"]: r["doc_id"] for r in docs.collect()}
    # every non-null input id yields a non-null doc_id
    assert got["uuid doc"] is not None and got["slug doc"] is not None
    assert got["orphan doc"] is None  # null in → null out, not hashed
    # numeric strings take the plain-cast path
    assert got["numeric-string doc"] == 42
    # the fallback is exactly hash64(id): reproducible across runs/engines
    expected = {
        r["id"]: r["h"]
        for r in df.filter("id is not null")
        .select("id", hash64("id").alias("h"))
        .collect()
    }
    assert got["uuid doc"] == expected["d41d8cd9-8f00-3204-a980-0998ecf8427e"]
    assert got["slug doc"] == expected["https://example.com/a"]
    # distinct string ids -> distinct doc_ids (no collision on this input)
    assert len({v for v in got.values() if v is not None}) == 3


def test_streaming_upsert_sink_incremental_merge(spark, tmp_path):
    """foreachBatch upsert sink: batch 2 updates keys in place instead of
    appending duplicates; a no-new-data restart leaves the table
    unchanged (idempotent replay)."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_upsert_sink,
    )

    src = tmp_path / "cdc_src"
    out = str(tmp_path / "gold_tbl")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "k long, v string, ver long"

    def run_once():
        q = streaming_upsert_sink(
            spark.readStream.schema(schema).parquet(str(src)),
            keys="k",
            output_path=out,
            checkpoint_path=ckpt,
            order_col="ver",
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    got = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert got == {1: "a", 2: "b"}

    spark.createDataFrame([(2, "B", 2), (3, "c", 1)], schema).write.mode(
        "append"
    ).parquet(str(src))
    run_once()
    got = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert spark.read.parquet(out).count() == 3  # updated, not duplicated

    run_once()  # nothing new: table unchanged
    assert {r["k"]: r["v"] for r in spark.read.parquet(out).collect()} == {
        1: "a", 2: "B", 3: "c",
    }


def test_streaming_upsert_sink_recovers_from_crashed_promotion(
    spark, tmp_path
):
    """Crash window between renaming the old table aside and promoting
    staging: on restart the sink must promote the complete staging copy
    instead of treating the replayed epoch as a first batch (review
    finding r4 — that path silently truncated the table)."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_upsert_sink,
    )
    import os

    src = tmp_path / "rec_src"
    out = str(tmp_path / "rec_tbl")
    ckpt = str(tmp_path / "rec_ckpt")
    schema = "k long, v string, ver long"

    def run_once():
        q = streaming_upsert_sink(
            spark.readStream.schema(schema).parquet(str(src)),
            keys="k", output_path=out, checkpoint_path=ckpt, order_col="ver",
        )
        q.awaitTermination(120)

    spark.createDataFrame([(1, "a", 1), (2, "b", 1)], schema).write.mode(
        "append"
    ).parquet(str(src))
    run_once()

    # simulate the crash: merged state sits in staging (complete, with
    # _SUCCESS — the live table dir is exactly that), live table missing
    os.rename(out, out + "_staging")
    spark.createDataFrame([(3, "c", 1)], schema).write.mode("append").parquet(
        str(src)
    )
    run_once()
    got = {r["k"]: r["v"] for r in spark.read.parquet(out).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # nothing truncated


def test_streaming_upsert_sink_rejects_object_store_paths(spark, tmp_path):
    """The staged rewrite promotes via local renames; a non-local
    output_path must fail fast at the call, not mid-batch at
    os.replace."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_upsert_sink,
    )
    import pytest

    src = tmp_path / "guard_src"
    src.mkdir()
    stream = spark.readStream.schema("k long, v string").parquet(str(src))
    with pytest.raises(ValueError, match="non-local"):
        streaming_upsert_sink(
            stream,
            keys="k",
            output_path="s3://bucket/gold_tbl",
            checkpoint_path=str(tmp_path / "ckpt"),
        )


def test_streaming_upsert_replay_equals_batch_upsert_of_union(
    spark, tmp_path
):
    """Idempotence as an executable check: epochs applied once, then
    REPLAYED from scratch (fresh checkpoint, same source) over the
    already-merged table, converge to exactly the single batch upsert of
    the unioned epochs — late/duplicate delivery can never fork the
    streaming table from its batch equivalent."""
    from knot_another_pipeline_spark.operators.relational import upsert
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_upsert_sink,
    )

    src = tmp_path / "par_src"
    out = str(tmp_path / "par_tbl")
    schema = "k long, v string, ver long"
    epochs = [
        [(1, "a", 1), (2, "b", 1)],
        [(2, "B", 2), (3, "c", 1)],
        [(1, "A", 0), (4, "d", 1)],  # ver=0 must NOT regress key 1
    ]

    def run(ckpt: str):
        q = streaming_upsert_sink(
            spark.readStream.schema(schema).parquet(str(src)),
            keys="k", output_path=out, checkpoint_path=ckpt, order_col="ver",
        )
        q.awaitTermination(120)

    for i, rows in enumerate(epochs):
        spark.createDataFrame(rows, schema).write.mode("append").parquet(
            str(src)
        )
        run(str(tmp_path / "par_ckpt"))  # one epoch per run
    # replay every epoch again against the merged table
    run(str(tmp_path / "par_ckpt_replay"))

    union = spark.createDataFrame(
        [r for rows in epochs for r in rows], schema
    )
    want = sorted(
        tuple(r)
        for r in upsert(union.limit(0), union, ["k"], order_col="ver").collect()
    )
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == want
    assert [k for k, *_ in got] == [1, 2, 3, 4]


def test_streaming_enrich_stream_static_join(spark, tmp_path):
    """Stream-static broadcast enrichment: streaming rows pick up dim
    attributes; unmatched keys survive the left join with NULLs."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_enrich,
    )

    src = tmp_path / "enrich_src"
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (9, 90.0)], "uid long, v double"
    ).write.parquet(str(src))
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "uid long, tier string"
    )
    enriched = streaming_enrich(
        spark.readStream.schema("uid long, v double").parquet(str(src)), dim,
        "uid",
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["uid"]: r["tier"]
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    assert got == {1: "gold", 2: "silver", 9: None}


def test_streaming_session_window_matches_batch_sessionize(spark, tmp_path):
    """Native session_window sessionizer: bounded replay equals the batch
    lag+cumsum sessionize, including at the exact-threshold-gap boundary
    (both keep it in one session)."""
    from knot_another_pipeline_spark.operators.relational import sessionize
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_session_rollup,
    )

    src = tmp_path / "sw_in"
    src.mkdir()
    df = spark.createDataFrame(
        [
            # A: two sessions, 40-min gap (> 30) between them
            ("A", "2025-01-01 00:00:00"),
            ("A", "2025-01-01 00:10:00"),
            ("A", "2025-01-01 00:50:00"),
            # B: one session, 29-min gap stays merged
            ("B", "2025-01-01 00:00:00"),
            ("B", "2025-01-01 00:29:00"),
            # watermark pusher so every session closes
            ("Z", "2025-01-03 00:00:00"),
        ],
        "uid string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = streaming_session_rollup(
        stream, uid_col="uid", ts_col="ts", gap="30 minutes", watermark="1 minute"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sw_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["uid"], str(r["session_start"]), str(r["session_end_ts"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sw_test WHERE uid != 'Z'").collect()
    }
    # Z is the watermark pusher: its own session never closes before the
    # availableNow run drains, so compare the closed sessions only
    want = {
        (r["uid"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in sessionize(
            df.filter(F.col("uid") != "Z"), uid_col="uid", ts_col="ts", gap_minutes=30
        ).collect()
    }
    assert got == want

    # boundary: EXACT 30-min gap → native splits, batch keeps
    bdf = spark.createDataFrame(
        [("X", "2025-01-01 00:00:00"), ("X", "2025-01-01 00:30:00"),
         ("Z", "2025-01-03 00:00:00")],
        "uid string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    src2 = tmp_path / "sw_in2"
    bdf.write.mode("append").parquet(str(src2))
    stream2 = spark.readStream.schema(bdf.schema).parquet(str(src2))
    out2 = streaming_session_rollup(
        stream2, uid_col="uid", ts_col="ts", gap="30 minutes", watermark="1 minute"
    )
    q2 = (
        out2.writeStream.format("memory")
        .queryName("sw_boundary")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    n_native = spark.sql(
        "SELECT count(*) AS n FROM sw_boundary WHERE uid = 'X'"
    ).collect()[0]["n"]
    n_batch = (
        sessionize(bdf, uid_col="uid", ts_col="ts", gap_minutes=30)
        .filter(F.col("uid") == "X")
        .count()
    )
    # both definitions KEEP an exact-threshold gap in one session: the
    # native session window extends through ts+gap inclusive, matching
    # the batch strictly-greater-than-gap break rule
    assert n_native == 1
    assert n_batch == 1


def test_streaming_radius_pairs_matches_batch(spark, tmp_path):
    """Distance-true streaming co-location: the per-batch radius join
    over finalized windows must equal the batch radius_pairs over the
    identical windowed rollup — one code path, zero semantic drift."""
    from knot_another_pipeline_spark.operators.pairs import radius_pairs
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_radius_pairs,
    )

    src = tmp_path / "radius_in"
    # hour 0: A and B ~15 km apart (within 50 km); C is ~500 km away.
    # hour 1: A and C co-located; B far.
    # hour 2: D straddles the antimeridian (fixes at ±179.95°) — its
    # CIRCULAR mean lon is ±180°, within 50 km of E at 179.8°; a naive
    # arithmetic avg(lon) would place D near 0° and miss the pair.
    rows = [
        ("A", "2025-01-01 00:10:00", 10.00, 20.00),
        ("B", "2025-01-01 00:40:00", 10.10, 20.10),
        ("C", "2025-01-01 00:20:00", 14.50, 20.00),
        ("A", "2025-01-01 01:15:00", -30.00, 150.00),
        ("C", "2025-01-01 01:45:00", -30.05, 150.05),
        ("B", "2025-01-01 01:30:00", 40.00, -60.00),
        ("D", "2025-01-01 02:05:00", 5.00, 179.95),
        ("D", "2025-01-01 02:25:00", 5.00, -179.95),
        ("E", "2025-01-01 02:15:00", 5.00, 179.80),
        ("Z", "2025-01-03 00:00:00", 0.0, 0.0),  # watermark sentinel
    ]
    df = spark.createDataFrame(
        rows, "uid string, ts string, lat double, lon double"
    ).withColumn("ts", F.to_timestamp("ts"))
    df.write.parquet(str(src))

    out = str(tmp_path / "radius_out")
    ckpt = str(tmp_path / "radius_ckpt")
    stream = spark.readStream.schema(df.schema).parquet(str(src))
    q = streaming_radius_pairs(
        stream,
        uid_col="uid",
        ts_col="ts",
        lat_col="lat",
        lon_col="lon",
        radius_m=50_000.0,
        output_path=out,
        checkpoint_path=ckpt,
        watermark="2 hours",
    )
    q.awaitTermination(180)
    got = {
        (r["id_a"], r["id_b"], r["bucket_ts"].hour, r["distance_m"])
        for r in spark.read.parquet(out).collect()
    }
    assert {(a, b, h) for a, b, h, _ in got} == {
        ("A", "B", 0),
        ("A", "C", 1),
        ("D", "E", 2),
    }

    # batch parity over the same finalized windows (sentinel's window
    # never finalizes in the stream, so exclude it batch-side too);
    # the rollup mirrors the stream's circular lon mean
    lon_rad = F.radians("lon")
    rolled = (
        df.filter(F.col("uid") != "Z")
        .groupBy(F.window("ts", "1 hour").alias("w"), "uid")
        .agg(
            F.avg("lat").alias("lat"),
            F.avg(F.sin(lon_rad)).alias("_s"),
            F.avg(F.cos(lon_rad)).alias("_c"),
        )
        .select(
            F.col("w.start").alias("window_ts"),
            "uid",
            "lat",
            F.degrees(F.atan2("_s", "_c")).alias("lon"),
        )
    )
    batch = {
        (r["id_a"], r["id_b"], r["bucket_ts"].hour, r["distance_m"])
        for r in radius_pairs(
            rolled,
            id_col="uid",
            radius_m=50_000.0,
            time_col="window_ts",
            time_grain="second",
        ).collect()
    }
    assert got == batch


def test_cli_tokenize(spark, tmp_path):
    """tokenize end-to-end: JSONL in → vocab parquet + encoded token-id
    sequences with OOV accounting."""
    import json

    from knot_another_pipeline_spark.__main__ import main

    src = tmp_path / "tok.jsonl"
    lines = [
        json.dumps({"id": 1, "text": "alpha beta alpha gamma"}),
        json.dumps({"id": 2, "text": "alpha beta rare"}),
        json.dumps({"id": 3, "text": "alpha"}),
    ]
    src.write_text("\n".join(lines) + "\n")
    out = tmp_path / "tokenized"
    rc = main([
        "tokenize", "--input", str(src), "--output", str(out),
        "--min-count", "2",
    ])
    assert rc == 0
    vocab = {
        r["token"]: r["token_id"]
        for r in spark.read.parquet(str(out / "vocab")).collect()
    }
    # alpha:4 -> 1, beta:2 -> 2; gamma/rare below min_count
    assert vocab == {"alpha": 1, "beta": 2}
    enc = {
        r["id"]: r
        for r in spark.read.parquet(str(out / "encoded")).collect()
    }
    assert enc[1]["token_ids"] == [1, 2, 1, 0]
    assert enc[1]["n_oov"] == 1
    assert enc[3]["token_ids"] == [1] and enc[3]["n_oov"] == 0


def test_cli_tokenize_counts_in_band(spark, tmp_path):
    """tokenize prints its vocab, encoded, pack and BPE counts from
    observations on the writes: no job reads an output back to count
    it, and the printed counts are the outputs' own."""
    import contextlib
    import json

    from knot_another_pipeline_spark.__main__ import main

    src = tmp_path / "tok.jsonl"
    lines = [
        json.dumps({"id": 1, "text": "alpha beta alpha gamma"}),
        json.dumps({"id": 2, "text": "alpha beta rare"}),
        json.dumps({"id": 3, "text": "alpha"}),
    ]
    src.write_text("\n".join(lines) + "\n")
    out = tmp_path / "tokenized"
    buf = io.StringIO()
    sc = spark.sparkContext
    sc.setJobGroup("cli-tokenize", "cli tokenize with packs and BPE")
    try:
        with contextlib.redirect_stdout(buf):
            assert main([
                "tokenize", "--input", str(src), "--output", str(out),
                "--min-count", "2", "--seq-len", "4", "--bpe-merges", "2",
            ]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cli-tokenize")) == 31
    enc = spark.read.parquet(str(out / "encoded")).agg(
        F.count(F.lit(1)), F.sum("n_tokens"), F.sum("n_oov")
    ).first()
    n_packs = spark.read.parquet(str(out / "packs")).agg(
        F.max(F.col("pack_id") + F.col("n_packs_spanned"))
    ).first()[0]
    n_sym = spark.read.parquet(str(out / "bpe")).agg(
        F.sum("n_symbols")
    ).first()[0]
    assert tuple(enc) == (3, 8, 2)
    assert buf.getvalue() == (
        f"vocab 2 tokens -> {out}/vocab; encoded 3 docs / 8 tokens "
        f"(25.00% OOV) -> {out}/encoded\n"
        f"packed into {n_packs} x 4-token windows -> {out}/packs\n"
        f"learned 2 BPE merges -> {out}/merges; segmented corpus "
        f"({n_sym} symbols) -> {out}/bpe\n"
    )


def test_streaming_interval_join_matches_batch_and_bounds_window(
    spark, tmp_path
):
    """The stream-stream interval join must (a) agree with the same
    time-bounded batch join on a bounded input and (b) drop right rows
    past max_delay."""
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_interval_join,
    )

    lsrc, rsrc = tmp_path / "left_in", tmp_path / "right_in"
    imps = spark.createDataFrame(
        [
            (1, "2025-01-01 00:00:00", "imp1"),
            (1, "2025-01-01 01:00:00", "imp2"),
            (2, "2025-01-01 00:00:00", "imp3"),
        ],
        "uid bigint, imp_ts string, imp_id string",
    ).withColumn("imp_ts", F.to_timestamp("imp_ts"))
    clicks = spark.createDataFrame(
        [
            (1, "2025-01-01 00:05:00", "c1"),   # matches imp1 (5 min)
            (1, "2025-01-01 01:09:00", "c2"),   # matches imp2 (9 min)
            (1, "2025-01-01 00:20:00", "c3"),   # > 10 min after imp1: no
            (2, "2024-12-31 23:59:00", "c4"),   # before any impression: no
        ],
        "uid bigint, click_ts string, click_id string",
    ).withColumn("click_ts", F.to_timestamp("click_ts"))
    imps.write.parquet(str(lsrc))
    clicks.write.parquet(str(rsrc))

    joined = streaming_interval_join(
        spark.readStream.schema(imps.schema).parquet(str(lsrc)),
        spark.readStream.schema(clicks.schema).parquet(str(rsrc)),
        on="uid",
        left_ts="imp_ts",
        right_ts="click_ts",
        max_delay="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("interval_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["imp_id"], r["click_id"])
        for r in spark.sql("SELECT * FROM interval_join_test").collect()
    }
    assert got == {("imp1", "c1"), ("imp2", "c2")}

    # batch parity: identical condition on the bounded frames
    batch = imps.alias("l").join(
        clicks.alias("r"),
        (F.col("l.uid") == F.col("r.uid"))
        & (F.col("r.click_ts") >= F.col("l.imp_ts"))
        & (
            F.col("r.click_ts")
            <= F.col("l.imp_ts") + F.expr("INTERVAL 10 minutes")
        ),
    )
    assert got == {
        (r["imp_id"], r["click_id"]) for r in batch.collect()
    }


def test_streaming_fairness_monitor_matches_batch(spark, tmp_path):
    """Windowed streaming fairness readout equals the batch
    group_fairness ingredients computed per window slice, including the
    NULL-denominator convention (a window-group with no positives emits
    NULL tpr, not 0).

    In-order parity only; the late-data/replay-reorder case every other
    monitor has lives in tests/test_round8_ops.py::
    test_streaming_fairness_monitor_late_and_too_late_replay."""
    from knot_another_pipeline_spark.operators.evaluation import group_fairness
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_fairness_monitor,
    )

    rows = [
        # window 00:00 — group a: pos-pred 0.9(y=1), 0.8(y=0); neg 0.1(y=1)
        ("a", 0.9, 1, "2025-01-01 00:05:00"),
        ("a", 0.8, 0, "2025-01-01 00:15:00"),
        ("a", 0.1, 1, "2025-01-01 00:25:00"),
        # window 00:00 — group b: all labels 0 → NULL tpr
        ("b", 0.2, 0, "2025-01-01 00:10:00"),
        ("b", 0.7, 0, "2025-01-01 00:20:00"),
        # window 01:00 — group a only
        ("a", 0.6, 1, "2025-01-01 01:05:00"),
        # watermark pusher
        ("z", 0.5, 1, "2025-01-03 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "g string, s double, y int, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    src = tmp_path / "fair_in"
    df.write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(df.schema).parquet(str(src))
    out = streaming_fairness_monitor(
        stream,
        group_col="g",
        score_col="s",
        label_col="y",
        ts_col="ts",
        threshold=0.5,
        window_duration="1 hour",
        watermark="1 minute",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("fair_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["group"], str(r["window_ts"])): (
            r["n"], r["base_rate"], r["pos_rate"], r["tpr"], r["fpr"]
        )
        for r in spark.sql(
            "SELECT * FROM fair_test WHERE group != 'z'"
        ).collect()
    }
    # batch reference: group_fairness per hour slice (ingredients only —
    # the streaming monitor deliberately omits the overall-rate gaps)
    want = {}
    for hour in ("2025-01-01 00:00:00", "2025-01-01 01:00:00"):
        sliced = df.filter(
            (F.date_trunc("hour", "ts") == F.lit(hour).cast("timestamp"))
            & (F.col("g") != "z")
        )
        for r in group_fairness(
            sliced, group_col="g", score_col="s", label_col="y",
            threshold=0.5,
        ).collect():
            want[(r["group"], hour)] = (
                r["n"], r["base_rate"], r["pos_rate"], r["tpr"], r["fpr"]
            )
    assert got == want
    assert got[("b", "2025-01-01 00:00:00")][3] is None  # NULL tpr
