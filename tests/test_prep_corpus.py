"""CLI ``prep-corpus``: one read of the input, and the same rows as the
multi-pass composition of the same public operators.

Each output format is prepared once per module (a module-scoped fixture)
and every test here reads that one run.
"""

from __future__ import annotations

import contextlib
import io
import random
import re
import threading

import pytest
from pyspark.sql import functions as F

COLS = ("doc_id", "text", "n_tokens", "split", "shard")
MIN_TOKENS = 20
TOKENS_PER_SHARD = 150
SPLITS = "train:50,val:30,test:20"
ARGS = [
    "--min-tokens", str(MIN_TOKENS),
    "--tokens-per-shard", str(TOKENS_PER_SHARD),
    "--splits", SPLITS,
]

_WORDS = (
    "river stone quiet autumn garden window letter market harbor engine "
    "bridge forest morning silver lantern meadow castle valley shadow "
    "thunder orchard painter sailor winter summer candle mirror compass"
).split()
_STOP = ("the", "and", "of", "to", "in", "with")


def _line(rng: random.Random) -> str:
    return " ".join(
        rng.choice(_STOP) if k % 3 == 0 else rng.choice(_WORDS)
        for k in range(rng.randint(8, 14))
    )


def _corpus() -> list[tuple[int, str]]:
    """Regular documents with navigation crumbs, PII, exact duplicates
    under other ids, and documents below ``MIN_TOKENS``."""
    rng = random.Random(7)
    docs = []
    for i in range(1, 61):
        lines = [_line(rng) for _ in range(3)]
        if i % 4 == 0:
            lines.insert(0, "Menu")  # crumbs: fewer than 3 words
            lines.append("Sign in")
        if i % 5 == 0:
            lines.append(f"write to user{i}@example.org or call 555-010-{i:04d} now")
        docs.append((i, "\n".join(lines)))
    body = dict(docs)
    # duplicates after fingerprint normalization: case and punctuation
    docs += [(100 + i, body[i].upper() + " !") for i in range(1, 9)]
    # duplicates only after line cleaning, and only after the PII scrub
    docs.append((120, "Home\n" + body[11] + "\nLog in"))
    shared = _line(rng) + "\n" + _line(rng) + "\n" + _line(rng)
    docs += [
        (130 + k, shared + f"\nmail jo{k}@mail.example.com or 555.200.300{k}")
        for k in range(3)
    ]
    # below MIN_TOKENS, before or after line cleaning
    docs += [(200 + k, _line(rng)) for k in range(4)]
    docs.append((210, "Home\nAbout us\nContact"))
    return docs


def _multi_pass(spark, src: str):
    """The multi-pass composition prep-corpus used to run, written out:
    every consumer re-derives the cleaned text from the input."""
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

    cleaned = clean_lines(
        spark.read.parquet(src), id_col="doc_id", text_col="text", min_words=3
    ).select("id", "text")
    docs = scrub_pii(cleaned, id_col="id", text_col="text").select(
        F.col("id").alias("doc_id"), "text"
    )
    verdict = quality_filter(
        docs, id_col="doc_id", text_col="text", min_tokens=MIN_TOKENS
    )
    kept_tok = verdict.filter(F.col("keep")).select("id", "n_tokens")
    kept = docs.join(
        kept_tok.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )
    reps = exact_dedup(kept, id_col="doc_id", text_col="text").filter(
        F.col("representative")
    ).select(F.col("id").alias("doc_id"))
    final = kept.join(reps, "doc_id", "left_semi").join(
        kept_tok.select(F.col("id").alias("doc_id"), "n_tokens"), "doc_id"
    )
    weights = {k: int(w) for k, w in (kv.split(":") for kv in SPLITS.split(","))}
    final = split_by_hash(final, id_col="doc_id", weights=weights)
    shards = assign_shards(
        final.select(F.col("doc_id").alias("id"), "n_tokens", "split"),
        id_col="id",
        token_col="n_tokens",
        tokens_per_shard=TOKENS_PER_SHARD,
        group_col="split",
    ).select(F.col("id").alias("doc_id"), "shard")
    return _rows(final.join(shards, "doc_id"))


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.select(*COLS).collect())


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = _corpus()
    src = tmp_path_factory.mktemp("prep_corpus") / "docs.parquet"
    # one row group: the input scans as a single task
    pq.write_table(
        pa.table({"doc_id": [d for d, _ in docs], "text": [t for _, t in docs]}),
        src,
    )
    return str(src), len(docs)


@pytest.fixture(scope="module")
def expected(spark, corpus):
    return _multi_pass(spark, corpus[0])


@pytest.fixture(scope="module", params=["parquet", "jsonl"])
def prepared(request, spark, corpus, tmp_path_factory):
    """One CLI run per output format. The input loader passes every row
    through a nondeterministic UDF that counts how often it is read."""
    from knot_another_pipeline_spark import __main__ as cli

    seen = spark.sparkContext.accumulator(0)

    def bump(_):
        seen.add(1)
        return True

    load = cli._load_documents
    out = str(tmp_path_factory.mktemp(f"prepped_{request.param}"))
    stdout = io.StringIO()
    with pytest.MonkeyPatch.context() as mp, contextlib.redirect_stdout(stdout):
        mp.setattr(
            cli,
            "_load_documents",
            lambda s, path: load(s, path).filter(
                F.udf(bump, "boolean").asNondeterministic()("doc_id")
            ),
        )
        rc = cli.main([
            "prep-corpus", "--input", corpus[0], "--output", out,
            "--format", request.param, *ARGS,
        ])
    if request.param == "jsonl":
        got = spark.read.json(out)
    else:
        got = spark.read.parquet(out)
    return {"rc": rc, "reads": seen.value, "stdout": stdout.getvalue(),
            "rows": _rows(got)}


def test_prep_corpus_reads_input_once(prepared, corpus):
    """Every consumer reads the pinned cleaned corpus, so each input
    document is read exactly once."""
    assert prepared["rc"] == 0
    assert prepared["reads"] == corpus[1]


def test_prep_corpus_matches_multi_pass(prepared, expected):
    """Row for row the multi-pass composition's output, and the printed
    count is the observed count of the rows written."""
    by_split: dict[str, set] = {}
    for _, _, _, split, shard in expected:
        by_split.setdefault(split, set()).add(shard)
    # the fixture exercises every stage: duplicates, short documents and
    # several shards per split
    assert set(by_split) == {"train", "val", "test"}
    assert all(len(s) >= 2 for s in by_split.values())
    kept = {r[0] for r in expected}
    assert not kept & {200, 201, 202, 203, 210}
    assert len(kept & {1, 101}) == 1 and len(kept & {130, 131, 132}) == 1
    assert not any("@" in r[1] or "Menu" in r[1] for r in expected)

    assert prepared["rows"] == expected
    assert re.search(rf"\({len(expected)} docs\)", prepared["stdout"])


def test_prep_corpus_all_filtered(spark, tmp_path, capsys):
    """A corpus that the quality filter empties still writes, reports 0
    documents from the observed count, and returns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from knot_another_pipeline_spark.__main__ import main

    src = str(tmp_path / "tiny.parquet")
    pq.write_table(pa.table({"doc_id": [1, 2, 3], "text": ["a b c", "tiny", ""]}), src)
    result = {}
    worker = threading.Thread(
        target=lambda: result.setdefault("rc", main([
            "prep-corpus", "--input", src, "--output", str(tmp_path / "out"),
            *ARGS,
        ])),
        daemon=True,
    )
    worker.start()
    worker.join(timeout=180)
    assert not worker.is_alive()
    assert result["rc"] == 0
    assert "(0 docs)" in capsys.readouterr().out
