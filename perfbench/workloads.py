"""The workloads: inputs, staging, the timed operation, the oracle check
and the traced (layer-by-layer) pass of each.

Every call into the program goes through an entry point users call: the
CLI's ``main`` in-process for ``ingest``, ``refresh`` and
``prep-corpus``, and the library functions the track app and notebooks
call for lookups. The traced pass calls the same layers one at a time
and forces each layer's output to scratch parquet at its boundary, so a
span covers the layer's work and nothing else.

Both workloads are batch jobs that run once per job, so each run times
the first job after staging, JIT and codegen compilation included, as
the job's CLI users pay it.
"""

from __future__ import annotations

import contextlib
import glob
import io
import json
import os
import shutil
import statistics

import numpy as np

from perfbench import gen, oracles


class OpFailed(Exception):
    """An operation finished but its result is wrong (nonzero CLI exit,
    a DQ ``FAIL`` row)."""


def cli(argv: list[str]) -> str:
    """Run the CLI in-process; return what it printed. The CLI's own
    session factory returns the live session (``getOrCreate``)."""
    from knot_another_pipeline_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    out = buf.getvalue()
    if rc != 0:
        raise OpFailed(f"{argv[0]} exited {rc}: {out[-500:]}")
    return out


def _parquet(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)


def parquet_bytes(root: str) -> int:
    return sum(os.path.getsize(p) for p in _parquet(root))


def parquet_files(root: str) -> int:
    return len(_parquet(root))


def _cached(cache: str, make) -> dict:
    """Generated inputs are cached by seed: ``meta.json`` is written last,
    so its presence means the directory is complete."""
    meta = os.path.join(cache, "meta.json")
    if not os.path.exists(meta):
        shutil.rmtree(cache, ignore_errors=True)
        make(cache)
    with open(meta) as fh:
        return json.load(fh)


def _resolved(silver) -> dict:
    """Column names the way the CLI resolves them (``__main__``)."""
    from knot_another_pipeline_spark.schema import (
        ID_ALIASES, LAT_ALIASES, LON_ALIASES, TIMESTAMP_ALIASES, resolve_column,
    )

    return {
        "uid_col": resolve_column(silver, *ID_ALIASES) or "mmsi",
        "ts_col": resolve_column(silver, "event_ts", *TIMESTAMP_ALIASES) or "event_ts",
        "lat_col": resolve_column(silver, *LAT_ALIASES) or "latitude",
        "lon_col": resolve_column(silver, *LON_ALIASES) or "longitude",
    }


class Workload:
    name = ""
    #: span name of the operation the traced run times whole
    FUSED = ""
    #: times ``stage`` runs before the timed loop; ``setup_s`` counts the
    #: median one
    SETUPS = 1

    def __init__(self, work: str, cache: str, seed: int):
        self.work = work
        self.cache = cache
        self.seed = seed
        self.spark = None
        #: set in traced runs only
        self.tracer = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def generate(self) -> None:
        """Write or load the seeded inputs: the benchmark's own cost,
        excluded from every metric."""
        raise NotImplementedError

    def stage(self) -> None:
        """Program work before the first timed operation. Running it again
        redoes the same work."""

    def op(self) -> int:
        """One timed operation; returns the records it processed."""
        raise NotImplementedError

    def verify(self) -> list[str]:
        """Oracle checks, outside the timed loop: one line per mismatch."""
        raise NotImplementedError

    def stored_bytes_per_input_byte(self) -> float:
        raise NotImplementedError

    def fused(self) -> None:
        """Run one whole operation for the traced run."""
        raise NotImplementedError

    def traced(self, tracer) -> None:
        """The layer-by-layer pass: one span per layer call."""
        raise NotImplementedError

    def layer_metrics(self, tracer, snap) -> dict:
        raise NotImplementedError


# --------------------------------------------------------------------------


def _zipf_choice(rng, items: list, a: float = 1.3):
    ranks = np.arange(1, len(items) + 1, dtype=float)
    p = ranks ** -a
    return items[int(rng.choice(len(items), p=p / p.sum()))]


class GoldRefresh(Workload):
    """CLI ``refresh`` in replace mode with DQ checks on, over silver the
    program stages with the CLI ``ingest``. The vessels are solitary ships
    at sea, co-moving fleets and one congested port cell.

    Silver holds the ``.csv.zst`` days. The ``.zip`` day is ingested only
    by the traced pass, into its own root: a silver root that mixes the
    two cannot be read back with ``mergeSchema``, because the zip path
    types every column as string.

    The traced pass also runs the track app's lookups against the silver
    and the gold this workload writes, so the read cost of their layout
    is traced too.
    """

    name = "gold_refresh"
    FUSED = "plans.gold_refresh"
    SPEC = gen.AisSpec(days=3, solo=60, fleets=6, fleet_size=4, port=400,
                       msgs_per_hour=4, formats=("zst", "zst", "zip"))
    SILVER_DAYS = [0, 1]
    SETUPS = 3
    #: the DQ cap refresh_gold applies by default (max_entities_per_cell)
    CELL_CAP = 10_000
    LOOKUP_ROUNDS = 4
    TOP = 10

    def generate(self):
        self.meta = _cached(self.cache, lambda d: gen.write_ais(d, self.seed, self.SPEC))
        self.truth = os.path.join(self.cache, "truth.parquet")
        self.silver_rows = oracles.expected_silver_rows(self.truth, self.SILVER_DAYS)
        self.zst_files = [f for f in self.meta["files"] if f["format"] == "zst"]
        self.silver_root = self.path("silver")
        self.gold_root = self.path("gold")
        self.lookups = []

    def stage(self):
        shutil.rmtree(self.silver_root, ignore_errors=True)  # ingest into an empty root
        with self.span("cli.ingest"):
            cli(["ingest", "--input", os.path.join(self.cache, "raw", "*.csv.zst"),
                 "--output", self.silver_root])

    def refresh(self) -> None:
        out = cli(["refresh", "--silver", self.silver_root, "--output", self.gold_root])
        if "[FAIL]" in out:
            raise OpFailed("DQ check failed: " + out[out.index("[FAIL]"):][:300])

    def op(self):
        self.refresh()
        return self.silver_rows

    def verify(self):
        oracle = oracles.GoldOracle(self.truth, self.SILVER_DAYS)
        out = []
        got = oracles.parquet_rows(self.silver_root)
        if got != self.silver_rows:
            out.append(f"silver rows {got} != oracle {self.silver_rows}")
        hourly = oracles.parquet_rows(os.path.join(self.gold_root, "uid_hourly_h3"))
        if hourly != oracle.hourly_rows():
            out.append(f"uid_hourly_h3 rows {hourly} != oracle {oracle.hourly_rows()}")
        pairs = oracle.pairs_daily()
        rows = oracles.read_parquet(os.path.join(self.gold_root, "pairs_daily"),
                                    "uid_a, uid_b, CAST(day_date AS VARCHAR) AS d, gto")
        out += oracles.check_pairs(
            {(r["uid_a"], r["uid_b"], r["d"]): round(r["gto"], 9) for r in rows}, pairs)
        for q, (track, daily, total) in self.lookups:
            want = oracle.track(q["uids"], q["start"], q["stop"])
            if track[0] != want[0] or abs(track[1] - want[1]) > 1e-3:
                out.append(f"track export {q}: got {track}, oracle {want}")
            mine = {k: v for k, v in pairs.items() if q["pair_uid"] in k[:2]}
            want_daily = dict(sorted(mine.items(), key=lambda kv: (-kv[1], kv[0]))[:self.TOP])
            days = {}
            for a, b, _ in mine:
                days[(a, b)] = days.get((a, b), 0) + 1
            if oracles.check_pairs(daily, want_daily) or (
                    len(days) <= self.TOP and total != days):
                out.append(f"pair lookup {q['pair_uid']}: got {daily}, oracle {want_daily}")
        return out

    def stored_bytes_per_input_byte(self):
        return (parquet_bytes(self.gold_root)
                / parquet_bytes(self.silver_root))

    def fused(self):
        self.refresh()

    # ---- traced pass

    def traced(self, tracer):
        self._traced_ingest(tracer)
        self._traced_refresh(tracer)
        self._traced_lookups(tracer)

    def _traced_ingest(self, tracer):
        """The ingest layer staged apart, on every archive of the fixture
        (``.csv.zst`` through the JVM codec, ``.zip`` through the Python
        demux): read to scratch parquet, then normalize and write."""
        from knot_another_pipeline_spark.sources.ingest import (
            read_csv_auto, read_zip_csv, to_silver, write_silver,
        )

        spark = self.spark
        for day, f in enumerate(self.meta["files"]):
            raw_stage = self.path("staged", f"raw{day}")
            with tracer.span("sources.ingest.read"):
                raw = (read_zip_csv(spark, f["path"]) if f["format"] == "zip"
                       else read_csv_auto(spark, f["path"]))
                raw.write.mode("overwrite").parquet(raw_stage)
            with tracer.span("sources.ingest.write_silver"):
                write_silver(to_silver(spark.read.parquet(raw_stage)),
                             self.path("staged", f"silver_{f['format']}"))

    def _traced_refresh(self, tracer):
        """``refresh_gold``'s layers one at a time, in its order."""
        from pyspark.sql import functions as F

        from knot_another_pipeline_spark.functions.geo import valid_coords
        from knot_another_pipeline_spark.functions.timestamps import normalize_timestamp
        from knot_another_pipeline_spark.operators.pairs import (
            co_movement_pairs, oversize_cell_windows, pairs_total,
        )
        from knot_another_pipeline_spark.operators.quality import reconciliation_report
        from knot_another_pipeline_spark.operators.rollup import build_uid_hourly_h3
        from knot_another_pipeline_spark.sources.ingest import read_silver

        spark = self.spark
        staged = self.path("staged")
        with tracer.span("sources.ingest.read_silver"):
            silver = read_silver(spark, self.silver_root)
            cols = _resolved(silver)
        with tracer.span("operators.rollup"):
            build_uid_hourly_h3(silver, sog_col="sog", **cols).write.mode(
                "overwrite").parquet(f"{staged}/hourly")
        hourly = spark.read.parquet(f"{staged}/hourly")
        with tracer.span("operators.pairs.co_movement"):
            co_movement_pairs(
                hourly.select(F.col("mmsi").alias("uid"), F.col("hour_ts").alias("window_ts"),
                              F.col("h3_index").alias("cell")),
                max_entities_per_cell=self.CELL_CAP,
            ).write.mode("overwrite").parquet(f"{staged}/pairs")
        pairs = spark.read.parquet(f"{staged}/pairs")
        with tracer.span("operators.pairs.pairs_total"):
            pairs_total(pairs).write.mode("overwrite").parquet(f"{staged}/totals")
        with tracer.span("operators.quality.reconciliation"):
            filtered = silver.filter(
                F.col(cols["uid_col"]).isNotNull()
                & normalize_timestamp(cols["ts_col"]).isNotNull()
                & valid_coords(F.col(cols["lat_col"]).cast("double"),
                               F.col(cols["lon_col"]).cast("double"))
            ).count()
            trimmed = oversize_cell_windows(
                hourly.select(F.to_date("hour_ts").alias("day_date"),
                              F.col("hour_ts").alias("w"), F.col("h3_index").alias("cell")),
                self.CELL_CAP,
            ).count()
            reconciliation_report(
                spark, silver_filtered_count=filtered, hourly=hourly, pairs=pairs,
                trimmed_cell_windows=trimmed,
            ).collect()
        self.staged_pair_rows = pairs.count()

    def _draw(self, rng) -> dict:
        """One app round: a cohort of 1-8 vessels drawn Zipf-skewed (fleet
        vessels are the popular ones), a 24 h window, and a fleet vessel
        whose pairs to show."""
        pool = self.meta["vessels"]["fleet"] + self.meta["vessels"]["solo"]
        k = int(rng.integers(1, 9))
        uids = sorted({_zipf_choice(rng, pool) for _ in range(k)})
        start = gen.DAY0 + np.timedelta64(int(rng.integers(0, 25)), "h")
        stop = start + np.timedelta64(24, "h")
        return {"uids": uids, "start": str(start).replace("T", " "),
                "stop": str(stop).replace("T", " "),
                "pair_uid": _zipf_choice(rng, self.meta["vessels"]["fleet"])}

    def _traced_lookups(self, tracer):
        """The track app's rounds against this workload's silver and gold:
        a cohort track export, then the top pairs of one vessel."""
        from pyspark.sql import functions as F

        from knot_another_pipeline_spark.operators.tracks import export_tracks
        from knot_another_pipeline_spark.sources.formats import read_table
        from knot_another_pipeline_spark.sources.ingest import read_silver

        rng = np.random.default_rng([self.seed, 3])
        self.rows_returned = 0
        for _ in range(self.LOOKUP_ROUNDS):
            q = self._draw(rng)
            with tracer.span("sources.ingest.read_silver"):
                silver = read_silver(self.spark, self.silver_root)
            with tracer.span("operators.tracks.export"):
                pdf = export_tracks(silver, uids=q["uids"], start=q["start"],
                                    stop=q["stop"], **_resolved(silver)).toPandas()
            mine = (F.col("uid_a") == q["pair_uid"]) | (F.col("uid_b") == q["pair_uid"])
            with tracer.span("sources.formats.pair_lookup"):
                daily = (read_table(self.spark, os.path.join(self.gold_root, "pairs_daily"))
                         .filter(mine).orderBy(F.desc("gto"), "uid_a", "uid_b", "day_date")
                         .limit(self.TOP).collect())
                total = (read_table(self.spark, os.path.join(self.gold_root, "pairs_total"))
                         .filter(mine).orderBy(F.desc("max_gto"), "uid_a", "uid_b")
                         .limit(self.TOP).collect())
            self.rows_returned += len(pdf)
            self.lookups.append((q, (
                (len(pdf), round(float(pdf["latitude"].sum()), 4)),
                {(r.uid_a, r.uid_b, str(r.day_date)): round(r.gto, 9) for r in daily},
                {(r.uid_a, r.uid_b): r.total_days_observed for r in total},
            )))

    def layer_metrics(self, tracer, snap):
        fused = tracer.groups(self.FUSED)
        pairs_g = tracer.groups("operators.pairs.co_movement")
        rollup_g = tracer.groups("operators.rollup")
        export_g = tracer.groups("operators.tracks.export")
        lookup_g = tracer.groups("sources.formats.pair_lookup")
        refresh_layers = ("operators.rollup", "operators.pairs.co_movement",
                          "operators.pairs.pairs_total", "operators.quality.reconciliation")
        # read_silver runs once for the refresh and once per lookup round
        read_silver = [s.seconds for s in tracer.spans if s.name == "sources.ingest.read_silver"]
        join_rows = snap.node_max(pairs_g, "Join", "number of output rows")
        n = self.LOOKUP_ROUNDS
        return {
            "sources.ingest.read_s": tracer.seconds("sources.ingest.read"),
            "sources.ingest.write_silver_s": tracer.seconds("sources.ingest.write_silver"),
            "sources.ingest.input_bytes_per_archive_byte":
                snap.stage_sum(tracer.groups("cli.ingest"), "inputBytes")
                / sum(f["bytes"] for f in self.zst_files),
            "sources.ingest.rows_kept_ratio":
                oracles.parquet_rows(self.silver_root) / sum(f["rows"] for f in self.zst_files),
            "sources.ingest.files_written": parquet_files(self.silver_root),
            "sources.ingest.read_silver_s": statistics.median(read_silver),
            "operators.rollup.s": tracer.seconds("operators.rollup"),
            "operators.rollup.shuffle_write_bytes": snap.stage_sum(rollup_g, "shuffleWriteBytes"),
            "operators.pairs.co_movement_s": tracer.seconds("operators.pairs.co_movement"),
            "operators.pairs.join_rows": join_rows,
            "operators.pairs.join_rows_per_pair_row": join_rows / self.staged_pair_rows,
            "operators.pairs.shuffle_write_bytes": snap.stage_sum(pairs_g, "shuffleWriteBytes"),
            "operators.pairs.spill_bytes": snap.stage_sum(pairs_g, "memoryBytesSpilled")
                + snap.stage_sum(pairs_g, "diskBytesSpilled"),
            "operators.pairs.task_skew": snap.task_skew(pairs_g),
            "operators.pairs.pairs_total_s": tracer.seconds("operators.pairs.pairs_total"),
            "operators.quality.reconciliation_s":
                tracer.seconds("operators.quality.reconciliation"),
            "plans.gold_refresh.s": tracer.seconds(self.FUSED),
            "plans.gold_refresh.self_s": tracer.seconds(self.FUSED) - read_silver[0]
                - sum(tracer.seconds(n) for n in refresh_layers),
            "plans.gold_refresh.silver_scans": snap.scans_of(fused, self.silver_root),
            "plans.gold_refresh.sql_executions": len(snap.sql_of(fused)),
            "plans.gold_refresh.spark_jobs": len(snap.jobs_of(fused)),
            "plans.gold_refresh.files_written": parquet_files(self.gold_root),
            "operators.tracks.export_s": tracer.seconds("operators.tracks.export") / n,
            "operators.tracks.files_scanned":
                snap.node_sum(export_g, "Scan", "number of files read") / n,
            "operators.tracks.rows_scanned_per_row_returned":
                snap.node_sum(export_g, "Scan", "number of output rows")
                / max(self.rows_returned, 1),
            "sources.formats.pair_lookup_s": tracer.seconds("sources.formats.pair_lookup") / n,
            "sources.formats.files_scanned":
                snap.node_sum(lookup_g, "Scan", "number of files read") / n,
        }


# --------------------------------------------------------------------------


class CorpusPrep(Workload):
    """CLI ``prep-corpus`` then MinHash-LSH near-duplicate
    canonicalization over its output."""

    name = "corpus_prep"
    FUSED = "cli.prep_corpus"
    SPEC = gen.DocSpec(docs=800)
    SPLITS = {"train": 90, "val": 5, "test": 5}
    #: small shards, so every split fills several of them
    TOKENS_PER_SHARD = 20_000

    def generate(self):
        self.meta = _cached(self.cache, lambda d: gen.write_docs(d, self.seed, self.SPEC))

    def prep(self, out: str) -> None:
        cli(["prep-corpus", "--input", self.meta["path"], "--output", out,
             "--tokens-per-shard", str(self.TOKENS_PER_SHARD),
             "--splits", ",".join(f"{k}:{v}" for k, v in self.SPLITS.items())])

    def candidates(self, prepped):
        from knot_another_pipeline_spark.operators.dedup import (
            lsh_candidate_pairs, minhash_signatures, shingle_table,
        )

        return lsh_candidate_pairs(minhash_signatures(
            shingle_table(prepped, id_col="doc_id", text_col="text", distinct=False)))

    def canonical(self, prepped_root: str, out: str):
        from knot_another_pipeline_spark.operators.dedup import canonical_docs

        prepped = self.spark.read.parquet(prepped_root)
        with self.span("operators.dedup.minhash_lsh"):
            cands = self.candidates(prepped)
            if self.tracer:
                cands.write.mode("overwrite").parquet(out + "_cands")
                cands = self.spark.read.parquet(out + "_cands")
        with self.span("operators.dedup.canonical"):
            canonical_docs(prepped, cands).write.mode("overwrite").parquet(out)
        return cands

    def op(self):
        self.prepped_root = self.path("prepped")
        self.canon_root = self.path("canonical")
        self.prep(self.prepped_root)
        self.canonical(self.prepped_root, self.canon_root)
        return self.meta["docs"]

    def verify(self):
        import pyarrow.parquet as pq

        prepped = oracles.read_parquet(self.prepped_root, "doc_id, text, split, shard")
        canonical = oracles.read_parquet(self.canon_root, "doc_id, cluster_id, is_rep")
        # LSH is deterministic: the pairs canonical_docs was given
        cands = [(r.id_a, r.id_b) for r in
                 self.candidates(self.spark.read.parquet(self.prepped_root)).collect()]
        docs = pq.read_table(self.meta["path"], columns=["doc_id", "text"]).to_pylist()
        return oracles.check_corpus(prepped, canonical, cands, docs, self.meta,
                                    self.SPLITS, self.TOKENS_PER_SHARD)

    def stored_bytes_per_input_byte(self):
        return ((parquet_bytes(self.prepped_root)
                 + parquet_bytes(self.canon_root))
                / self.meta["input_bytes"])

    def fused(self):
        self.prepped_root = self.path("fused_prepped")
        self.prep(self.prepped_root)

    def traced(self, tracer):
        from pyspark.sql import functions as F

        from knot_another_pipeline_spark.operators.dedup import exact_dedup
        from knot_another_pipeline_spark.operators.sampling import assign_shards, split_by_hash
        from knot_another_pipeline_spark.operators.text_analysis import (
            clean_lines, quality_filter, scrub_pii,
        )

        spark = self.spark
        st = self.path("staged")
        docs = spark.read.parquet(self.meta["path"])
        with tracer.span("operators.text_analysis"):
            cleaned = clean_lines(docs, id_col="doc_id", text_col="text", min_words=3)
            scrub_pii(cleaned.select("id", "text"), id_col="id", text_col="text").select(
                F.col("id").alias("doc_id"), "text",
            ).write.mode("overwrite").parquet(f"{st}/scrubbed")
            scrubbed = spark.read.parquet(f"{st}/scrubbed")
            quality_filter(scrubbed, id_col="doc_id", text_col="text", min_tokens=50
                           ).write.mode("overwrite").parquet(f"{st}/verdict")
        verdict = spark.read.parquet(f"{st}/verdict")
        kept_tok = verdict.filter("keep").select(F.col("id").alias("doc_id"), "n_tokens")
        kept = scrubbed.join(kept_tok, "doc_id", "left_semi")
        self.docs_kept = kept_tok.count()
        with tracer.span("operators.dedup.exact"):
            exact_dedup(kept, id_col="doc_id", text_col="text").filter("representative").select(
                F.col("id").alias("doc_id")).write.mode("overwrite").parquet(f"{st}/reps")
        reps = spark.read.parquet(f"{st}/reps")
        with tracer.span("operators.sampling"):
            final = split_by_hash(kept.join(reps, "doc_id", "left_semi").join(kept_tok, "doc_id"),
                                  id_col="doc_id", weights=self.SPLITS)
            final.write.mode("overwrite").parquet(f"{st}/split")
            final = spark.read.parquet(f"{st}/split")
            assign_shards(final.select(F.col("doc_id").alias("id"), "n_tokens", "split"),
                          id_col="id", token_col="n_tokens",
                          tokens_per_shard=self.TOKENS_PER_SHARD,
                          group_col="split").write.mode("overwrite").parquet(f"{st}/shards")
        self.canon_root = f"{st}/canonical"
        cands = self.canonical(self.prepped_root, self.canon_root)
        self.precision = oracles.candidate_precision(
            [(r.id_a, r.id_b) for r in cands.collect()], self.meta)

    def layer_metrics(self, tracer, snap):
        fused = tracer.groups("cli.prep_corpus")
        staged = ("operators.text_analysis", "operators.dedup.exact", "operators.sampling")
        return {
            "operators.text_analysis.s": tracer.seconds("operators.text_analysis"),
            "operators.text_analysis.docs_kept_ratio": self.docs_kept / self.meta["docs"],
            "operators.dedup.exact_s": tracer.seconds("operators.dedup.exact"),
            "operators.dedup.minhash_lsh_s": tracer.seconds("operators.dedup.minhash_lsh"),
            "operators.dedup.candidate_precision": self.precision,
            "operators.dedup.canonical_s": tracer.seconds("operators.dedup.canonical"),
            "operators.dedup.canonical_spark_jobs":
                len(snap.jobs_of(tracer.groups("operators.dedup.canonical"))),
            "operators.sampling.s": tracer.seconds("operators.sampling"),
            "cli.prep_corpus.self_s": tracer.seconds("cli.prep_corpus")
                - sum(tracer.seconds(n) for n in staged),
            "cli.prep_corpus.input_scans": snap.scans_of(fused, self.meta["path"]),
        }


WORKLOADS = {w.name: w for w in (GoldRefresh, CorpusPrep)}
