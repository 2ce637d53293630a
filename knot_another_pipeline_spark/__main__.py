"""Thin CLI over the engine — the reference's three entry points.

Reference commands → subcommands here:
- ``ais_pipeline.py run``          → ``ingest``  (archives/CSV → silver)
- ``refresh_gold_tables.py``       → ``refresh`` (silver → gold + DQ report)
- ``export_tracks_to_explore.py``  → ``export-tracks`` (cohort → CSV)

Everything heavy stays in the library; this module only parses arguments,
builds the session, and wires DataFrames to paths.

Usage::

    python -m knot_another_pipeline_spark ingest --input data/*.csv --output silver/
    python -m knot_another_pipeline_spark refresh --silver silver/ --output gold/
    python -m knot_another_pipeline_spark export-tracks --silver silver/ \
        --uids 111000111,222000222 --output tracks.csv
"""

from __future__ import annotations

import argparse
import sys


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="knot_another_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="raw CSV/zip archives → silver parquet")
    ing.add_argument("--input", required=True, help="CSV path/glob or .zip archive")
    ing.add_argument("--output", required=True, help="silver root directory")
    ing.add_argument("--source-url", default=None)
    ing.add_argument("--buckets", type=int, default=96)
    ing.add_argument("--mode", default="append", choices=["append", "overwrite"])

    ref = sub.add_parser("refresh", help="silver → gold tables + DQ report")
    ref.add_argument("--silver", required=True, help="silver root (parquet)")
    ref.add_argument("--output", required=True, help="gold output root")
    ref.add_argument("--mode", default="replace", choices=["replace", "append"])
    ref.add_argument("--days", default=None, help="comma-separated YYYY-MM-DD")
    ref.add_argument("--min-shared-cells", type=int, default=1)
    ref.add_argument("--no-checks", action="store_true")

    exp = sub.add_parser("export-tracks", help="cohort track extract → CSV")
    exp.add_argument("--silver", required=True)
    exp.add_argument("--uids", required=True, help="comma-separated entity ids")
    exp.add_argument("--start", default=None)
    exp.add_argument("--stop", default=None)
    exp.add_argument("--output", required=True, help="output CSV file")

    mnt = sub.add_parser(
        "maintain",
        help="warehouse maintenance: compact parquet / print table profile",
    )
    mnt.add_argument("--path", required=True, help="parquet directory")
    mnt.add_argument("--target-file-mb", type=int, default=128)
    mnt.add_argument(
        "--sort-cols", default=None,
        help="comma-separated clustering sort columns (e.g. a Z-order key)",
    )
    mnt.add_argument(
        "--profile", action="store_true",
        help="print per-column profile instead of compacting",
    )

    prep = sub.add_parser(
        "prep-corpus",
        help="documents parquet/JSONL → filtered, deduped, split, sharded parquet",
    )
    prep.add_argument("--input", required=True, help="documents parquet or .jsonl")
    prep.add_argument("--output", required=True, help="output parquet root")
    prep.add_argument("--min-tokens", type=int, default=50)
    prep.add_argument("--min-line-words", type=int, default=3)
    prep.add_argument("--tokens-per-shard", type=int, default=1_000_000)
    prep.add_argument(
        "--splits", default="train:90,val:5,test:5",
        help="name:weight,... summing to 100",
    )
    prep.add_argument(
        "--format", default="parquet", choices=["parquet", "jsonl"],
        help="output format (jsonl = one gzip'd JSON object per line, "
        "the common training-data interchange shape)",
    )

    tok = sub.add_parser(
        "tokenize",
        help="documents → frequency-ranked vocab + token-id sequences",
    )
    tok.add_argument("--input", required=True, help="documents parquet/jsonl")
    tok.add_argument("--output", required=True, help="output directory")
    tok.add_argument("--min-count", type=int, default=2)
    tok.add_argument("--max-size", type=int, default=None)
    tok.add_argument(
        "--seq-len", type=int, default=None,
        help="also write packs/: concat-and-chunk assignment of encoded "
        "documents into fixed seq-len training windows",
    )
    tok.add_argument(
        "--bpe-merges", type=int, default=None,
        help="also train a BPE tokenizer: learn N merge rules from the "
        "corpus word frequencies (merges/) and write each document's "
        "subword segmentation (bpe/)",
    )
    return p


def _load_documents(spark, path: str):
    """Documents from parquet or JSONL — one loader for every corpus
    subcommand so input semantics can't drift between them."""
    from knot_another_pipeline_spark.sources.ingest import (
        read_jsonl,
        to_documents,
    )

    if path.endswith((".jsonl", ".json")):
        return to_documents(read_jsonl(spark, path))
    return spark.read.parquet(path)


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from knot_another_pipeline_spark.session import get_spark

    spark = get_spark(app_name=f"knap-{args.cmd}")
    try:
        if args.cmd == "ingest":
            from knot_another_pipeline_spark.sources.ingest import (
                read_csv_auto,
                read_zip_csv,
                to_silver,
                write_silver,
            )

            raw = (
                read_zip_csv(spark, args.input)
                if args.input.endswith(".zip")
                else read_csv_auto(spark, args.input)
            )
            silver = to_silver(
                raw, source_url=args.source_url, num_buckets=args.buckets
            )
            write_silver(silver, args.output, mode=args.mode)
            print(f"silver written to {args.output}")
        elif args.cmd == "refresh":
            from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold
            from knot_another_pipeline_spark.schema import (
                ID_ALIASES,
                LAT_ALIASES,
                LON_ALIASES,
                SOG_ALIASES,
                TIMESTAMP_ALIASES,
                resolve_column,
            )

            from knot_another_pipeline_spark.sources.ingest import read_silver

            days = args.days.split(",") if args.days else None
            silver = read_silver(spark, args.silver)
            if days:
                # Prune on silver's year/month/day partitions, so a targeted
                # rebuild scans only its days' files.
                from pyspark.sql import functions as F

                silver = silver.filter(
                    F.make_date("year", "month", "day").isin(days)
                )
            result = refresh_gold(
                spark,
                silver,
                output_root=args.output,
                mode=args.mode,
                days=days,
                uid_col=resolve_column(silver, *ID_ALIASES) or "mmsi",
                ts_col=resolve_column(silver, "event_ts", *TIMESTAMP_ALIASES)
                or "event_ts",
                lat_col=resolve_column(silver, *LAT_ALIASES) or "latitude",
                lon_col=resolve_column(silver, *LON_ALIASES) or "longitude",
                sog_col=resolve_column(silver, *SOG_ALIASES) or "sog",
                run_checks=not args.no_checks,
                min_shared_cells=args.min_shared_cells,
            )
            for name, path in result.written.items():
                print(f"{name}: {path}")
            if result.report is not None:
                checks = result.report.collect()
                for r in checks:
                    status = "PASS" if r["passed"] else "FAIL"
                    print(
                        f"[{status}] {r['check_name']}: observed={r['observed']}"
                        f" expected={r['expected']} delta={r['delta']}"
                    )
                if any(not r["passed"] for r in checks):
                    return 1
        elif args.cmd == "export-tracks":
            from knot_another_pipeline_spark.operators.tracks import export_tracks
            from knot_another_pipeline_spark.schema import (
                ID_ALIASES,
                LAT_ALIASES,
                LON_ALIASES,
                TIMESTAMP_ALIASES,
                resolve_column,
            )

            from knot_another_pipeline_spark.sources.ingest import read_silver

            silver = read_silver(spark, args.silver)
            out = export_tracks(
                silver,
                uid_col=resolve_column(silver, *ID_ALIASES) or "mmsi",
                ts_col=resolve_column(silver, "event_ts", *TIMESTAMP_ALIASES)
                or "event_ts",
                lat_col=resolve_column(silver, *LAT_ALIASES) or "latitude",
                lon_col=resolve_column(silver, *LON_ALIASES) or "longitude",
                uids=args.uids.split(","),
                start=args.start,
                stop=args.stop,
            )
            out.toPandas().to_csv(args.output, index=False)
            print(f"tracks written to {args.output}")
        elif args.cmd == "maintain":
            if args.profile:
                from knot_another_pipeline_spark.operators.quality import (
                    profile_table,
                )

                df = spark.read.parquet(args.path)
                for r in profile_table(df).collect():
                    print(
                        f"{r['col_name']}: rows={r['n_rows']} "
                        f"nulls={r['n_nulls']} distinct={r['n_distinct']} "
                        f"min={r['min_value']} max={r['max_value']}"
                    )
            else:
                from knot_another_pipeline_spark.sources.warehouse import (
                    compact_parquet,
                )

                n = compact_parquet(
                    spark,
                    args.path,
                    target_file_bytes=args.target_file_mb * 1024 * 1024,
                    sort_cols=(
                        args.sort_cols.split(",") if args.sort_cols else None
                    ),
                )
                print(f"compacted {args.path} -> {n} files")
        elif args.cmd == "prep-corpus":
            from pyspark.sql import functions as F

            from knot_another_pipeline_spark.operators.dedup import exact_dedup
            from knot_another_pipeline_spark.operators.sampling import (
                assign_shards,
                split_by_hash,
            )
            from knot_another_pipeline_spark.operators.text_analysis import (
                clean_lines,
                quality_filter,
                scrub_pii,
            )

            docs = _load_documents(spark, args.input)
            # line-clean then PII-scrub BEFORE scoring: quality verdicts
            # and fingerprints must see the text that will be trained on
            cleaned = clean_lines(
                docs, id_col="doc_id", text_col="text", min_words=args.min_line_words
            ).select("id", "text")
            scrubbed = scrub_pii(cleaned, id_col="id", text_col="text")
            docs = scrubbed.select(F.col("id").alias("doc_id"), "text")
            verdict = quality_filter(
                docs, id_col="doc_id", text_col="text",
                min_tokens=args.min_tokens,
            )
            kept_tok = verdict.filter(F.col("keep")).select("id", "n_tokens")
            kept = docs.join(
                kept_tok.select(F.col("id").alias("doc_id")), "doc_id",
                "left_semi",
            )
            reps = exact_dedup(kept, id_col="doc_id", text_col="text").filter(
                F.col("representative")
            ).select(F.col("id").alias("doc_id"))
            # one kept∩reps set, n_tokens carried along — shard assignment
            # reuses it instead of re-running the dedup chain
            final = (
                kept.join(reps, "doc_id", "left_semi")
                .join(
                    kept_tok.select(
                        F.col("id").alias("doc_id"), "n_tokens"
                    ),
                    "doc_id",
                )
            )
            weights = {
                name: int(w)
                for name, w in (kv.split(":") for kv in args.splits.split(","))
            }
            final = split_by_hash(final, id_col="doc_id", weights=weights)
            # shard numbering restarts per split: shards land under
            # partitionBy('split') directories, so each split's shards
            # must independently fill ~tokens_per_shard (a global
            # numbering would spread one shard across split dirs)
            shards = assign_shards(
                final.select(
                    F.col("doc_id").alias("id"), "n_tokens", "split"
                ),
                id_col="id",
                token_col="n_tokens",
                tokens_per_shard=args.tokens_per_shard,
                group_col="split",
            ).select(F.col("id").alias("doc_id"), "shard")
            final = final.join(shards, "doc_id")
            writer = final.write.mode("overwrite").partitionBy("split")
            if args.format == "jsonl":
                # spark's json source IS jsonl (one object per line);
                # gzip keeps shard files network-friendly
                writer.option("compression", "gzip").json(args.output)
                reader = spark.read.schema(final.schema).json(args.output)
            else:
                writer.parquet(args.output)
                reader = spark.read.schema(final.schema).parquet(args.output)
            # explicit schema: an all-filtered corpus writes no footers
            n = reader.count()
            print(f"prepared corpus written to {args.output} ({n} docs)")
        elif args.cmd == "tokenize":
            import os

            from pyspark.sql import functions as F

            from knot_another_pipeline_spark.operators.text_analysis import (
                build_vocab,
                encode_documents,
            )

            docs = _load_documents(spark, args.input)
            vocab = build_vocab(
                docs,
                text_col="text",
                min_count=args.min_count,
                max_size=args.max_size,
            )
            vocab_path = os.path.join(args.output, "vocab")
            enc_path = os.path.join(args.output, "encoded")
            vocab.write.mode("overwrite").parquet(vocab_path)
            vocab_back = spark.read.parquet(vocab_path)
            encoded = encode_documents(
                docs, vocab_back, id_col="doc_id", text_col="text"
            )
            encoded.write.mode("overwrite").parquet(enc_path)
            stats = spark.read.parquet(enc_path).agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("n_tokens").alias("tokens"),
                F.sum("n_oov").alias("oov"),
            ).collect()[0]
            v_size = vocab_back.count()
            oov_pct = (
                100.0 * stats["oov"] / stats["tokens"]
                if stats["tokens"]
                else 0.0
            )
            print(
                f"vocab {v_size} tokens -> {vocab_path}; encoded "
                f"{stats['docs']} docs / {stats['tokens']} tokens "
                f"({oov_pct:.2f}% OOV) -> {enc_path}"
            )
            if args.seq_len:
                from knot_another_pipeline_spark.operators.sampling import (
                    pack_sequences,
                )

                packs_path = os.path.join(args.output, "packs")
                packs = pack_sequences(
                    spark.read.parquet(enc_path),
                    id_col="id",
                    token_col="n_tokens",
                    seq_len=args.seq_len,
                )
                packs.write.mode("overwrite").parquet(packs_path)
                n_packs = (
                    spark.read.parquet(packs_path)
                    .agg(
                        (
                            F.max(
                                F.col("pack_id")
                                + F.col("n_packs_spanned")
                                - 1
                            )
                            + 1
                        ).alias("n")
                    )
                    .collect()[0]["n"]
                )
                print(
                    f"packed into {n_packs} x {args.seq_len}-token "
                    f"windows -> {packs_path}"
                )
            if args.bpe_merges:
                from knot_another_pipeline_spark.operators.text_analysis import (
                    _tokens,
                    bpe_encode,
                    bpe_learn,
                )

                words = (
                    docs.select(
                        F.explode(_tokens(F.col("text"))).alias("word")
                    )
                    .groupBy("word")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                )
                learned = bpe_learn(words, n_merges=args.bpe_merges)
                merges_path = os.path.join(args.output, "merges")
                spark.createDataFrame(
                    learned, "rank bigint, a string, b string, "
                    "pair_count bigint"
                ).write.mode("overwrite").parquet(merges_path)
                bpe_path = os.path.join(args.output, "bpe")
                seg = bpe_encode(
                    docs,
                    id_col="doc_id",
                    text_col="text",
                    merges=[(a, b) for _, a, b, _ in learned],
                )
                seg.write.mode("overwrite").parquet(bpe_path)
                n_sym = spark.read.parquet(bpe_path).agg(
                    F.sum("n_symbols").alias("n")
                ).collect()[0]["n"]
                print(
                    f"learned {len(learned)} BPE merges -> {merges_path}; "
                    f"segmented corpus ({n_sym} symbols) -> {bpe_path}"
                )
        return 0
    finally:
        pass  # session is process-scoped; let exit tear it down


if __name__ == "__main__":
    sys.exit(main())
