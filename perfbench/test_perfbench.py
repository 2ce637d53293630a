"""Self-tests of the benchmark: deterministic generators, oracles that
catch corrupted outputs, and metric names that match ``BENCHMARK.json``.
None of them starts Spark. Run from the repository root::

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, oracles
from perfbench.trace import Span

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TINY_AIS = gen.AisSpec(days=2, solo=3, fleets=2, fleet_size=3, port=4,
                       msgs_per_hour=2, formats=("zst", "zip"))
TINY_DOCS = gen.DocSpec(docs=60)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_ais_generator_is_deterministic(tmp_path):
    gen.write_ais(str(tmp_path / "a"), 7, TINY_AIS)
    gen.write_ais(str(tmp_path / "b"), 7, TINY_AIS)
    gen.write_ais(str(tmp_path / "c"), 8, TINY_AIS)
    meta = lambda d: json.loads((tmp_path / d / "meta.json").read_text())  # noqa: E731
    assert _same_tree(str(tmp_path / "a" / "raw"), str(tmp_path / "b" / "raw"))
    assert filecmp.cmp(tmp_path / "a" / "truth.parquet", tmp_path / "b" / "truth.parquet",
                       shallow=False)
    assert meta("a")["vessels"] != meta("c")["vessels"]


def test_doc_generator_is_deterministic(tmp_path):
    a = gen.write_docs(str(tmp_path / "a"), 7, TINY_DOCS)
    b = gen.write_docs(str(tmp_path / "b"), 7, TINY_DOCS)
    c = gen.write_docs(str(tmp_path / "c"), 8, TINY_DOCS)
    assert filecmp.cmp(a["path"], b["path"], shallow=False)
    assert {k: v for k, v in a.items() if k != "path"} == {
        k: v for k, v in b.items() if k != "path"}
    assert pq.read_table(a["path"]) != pq.read_table(c["path"])


def test_ais_junk_rows_match_the_truth(tmp_path):
    meta = gen.write_ais(str(tmp_path), 3, TINY_AIS)
    truth = pq.read_table(tmp_path / "truth.parquet").to_pandas()
    assert len(truth) == meta["raw_rows"]
    assert 0 < truth[["bad_ts", "bad_xy", "no_id"]].to_numpy().sum() < 0.05 * len(truth)
    assert oracles.expected_silver_rows(str(tmp_path / "truth.parquet")) == (
        len(truth) - truth["bad_ts"].sum() - truth["no_id"].sum())


# --------------------------------------------------------------------------
# oracles flag deliberately corrupted outputs


def _truth(tmp_path, rows) -> str:
    """A truth table from (mmsi, iso time, lat, lon) tuples."""
    import pandas as pd

    df = pd.DataFrame(rows, columns=["mmsi", "ts", "lat", "lon"])
    df["ts"] = pd.to_datetime(df["ts"])
    for c in ("bad_ts", "bad_xy", "no_id"):
        df[c] = False
    df["sog"], df["day"] = 1.0, 0
    path = str(tmp_path / "truth.parquet")
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


def test_gold_oracle_pairs_and_tracks(tmp_path):
    # two vessels together in two cells (gT = 2 > 1) and a third apart
    c = gen.CELL_DEG
    path = _truth(tmp_path, [
        (1, "2024-03-01 00:10", 0.5 * c, 0.5 * c),
        (2, "2024-03-01 00:20", 0.5 * c, 0.5 * c),
        (1, "2024-03-01 01:10", 1.5 * c, 0.5 * c),
        (2, "2024-03-01 01:20", 1.5 * c, 0.5 * c),
        (3, "2024-03-01 01:20", 40.0, 40.0),
    ])
    oracle = oracles.GoldOracle(path)
    assert oracle.hourly_rows() == 5
    want = oracle.pairs_daily()
    assert want == {("1", "2", "2024-03-01"): 1.0}
    assert oracle.track(["1", "3"], "2024-03-01 01:00:00", "2024-03-01 02:00:00") == (
        2, round(1.5 * c + 40.0, 4))
    assert oracles.check_pairs(dict(want), want) == []
    assert oracles.check_pairs({}, want)  # a dropped pair row
    assert oracles.check_pairs({k: v - 0.1 for k, v in want.items()}, want)
    assert oracles.check_pairs({**want, ("1", "3", "2024-03-01"): 0.5}, want)


def test_silver_oracle_flags_a_lost_row(tmp_path):
    root = tmp_path / "silver" / "day=1"
    root.mkdir(parents=True)
    pq.write_table(pa.table({"mmsi": ["1", "2", "3"]}), root / "part-0.parquet")
    assert oracles.check_silver(str(tmp_path / "silver"), 3) == []
    assert oracles.check_silver(str(tmp_path / "silver"), 4)


@pytest.fixture
def corpus(tmp_path):
    meta = gen.write_docs(str(tmp_path), 5, TINY_DOCS)
    docs = pq.read_table(meta["path"]).to_pylist()
    text = {d["doc_id"]: d["text"] for d in docs}
    # a correct output: short documents and exact copies dropped, PII
    # masked, every near-duplicate group one cluster labelled by its
    # smallest id and represented by its longest text
    dropped = {b for _, b in meta["exact_pairs"]} | set(meta["short_docs"])
    prepped = [
        {"doc_id": i, "text": oracles.PHONE.sub("[PHONE]", oracles.EMAIL.sub("[EMAIL]", t)),
         "split": ("train", "val")[i % 2]}
        for i, t in text.items() if i not in dropped
    ]
    # 300-token shards: both splits span several
    by_split = {}
    for r in sorted(prepped, key=lambda r: r["doc_id"]):
        start = by_split.get(r["split"], 0)
        r["shard"] = start // TOKENS_PER_SHARD
        by_split[r["split"]] = start + len(r["text"].split())
    assert all(total > 2 * TOKENS_PER_SHARD for total in by_split.values())
    length = {r["doc_id"]: len(r["text"]) for r in prepped}
    cluster = {i: i for i in length}
    rep = dict(cluster)
    candidates = []
    for g in meta["near_groups"]:
        members = [d for d in g if d in length]
        if not members:  # a short document's group
            continue
        candidates += [(members[0], d) for d in members[1:]]
        best = max(members, key=lambda d: (length[d], -d))
        for d in members:
            cluster[d], rep[d] = min(members), best
    canonical = [{"doc_id": i, "cluster_id": cluster[i], "is_rep": rep[i] == i}
                 for i in length]
    return prepped, canonical, candidates, docs, meta


SPLITS = {"train": 90, "val": 5, "test": 5}
TOKENS_PER_SHARD = 300


def _check(prepped, canonical, candidates, docs, meta):
    return oracles.check_corpus(prepped, canonical, candidates, docs, meta, SPLITS,
                                TOKENS_PER_SHARD)


def test_corpus_oracle_accepts_a_correct_output(corpus):
    meta = corpus[-1]
    assert meta["near_groups"] and meta["exact_pairs"] and meta["pii_docs"]
    assert meta["short_docs"]
    assert _check(*corpus) == []


def test_corpus_oracle_flags_an_unmasked_email(corpus):
    prepped = corpus[0]
    prepped[0]["text"] += " write to someone@example.org"
    assert any("PII" in m for m in _check(*corpus))


def test_corpus_oracle_flags_a_surviving_exact_duplicate(corpus):
    prepped = corpus[0]
    prepped[1]["text"] = prepped[0]["text"].upper() + "!"
    assert any("exact-duplicate" in m for m in _check(*corpus))


def test_corpus_oracle_flags_a_dropped_document(corpus):
    prepped, canonical, candidates, docs, meta = corpus
    lone = next(r["doc_id"] for r in canonical if r["is_rep"]
                and all(r["doc_id"] not in p for p in candidates))
    prepped = [r for r in prepped if r["doc_id"] != lone]
    canonical = [r for r in canonical if r["doc_id"] != lone]
    msgs = _check(prepped, canonical, candidates, docs, meta)
    assert any("no survivor" in m for m in msgs)
    assert any(m.startswith(f"kept {len(prepped)} documents") for m in msgs)


def test_corpus_oracle_flags_a_kept_short_document(corpus):
    prepped, canonical, candidates, docs, meta = corpus
    short = meta["short_docs"][0]
    text = next(d["text"] for d in docs if d["doc_id"] == short)
    prepped.append({"doc_id": short, "text": text, "split": "train", "shard": 0})
    canonical.append({"doc_id": short, "cluster_id": short, "is_rep": True})
    assert any("short or unknown" in m for m in _check(*corpus))


def test_corpus_oracle_flags_missing_representatives(corpus):
    canonical = corpus[1]
    for r in canonical:
        r["is_rep"] = False
    msgs = _check(*corpus)
    assert any("wrong is_rep" in m for m in msgs)
    assert any("exactly one representative" in m for m in msgs)


def test_corpus_oracle_flags_an_over_merged_cluster(corpus):
    canonical = corpus[1]
    first = min(r["doc_id"] for r in canonical)
    for r in canonical:
        r["cluster_id"], r["is_rep"] = first, r["doc_id"] == first
    assert any("wrong cluster" in m for m in _check(*corpus))


def test_corpus_oracle_flags_a_split_near_duplicate_group(corpus):
    prepped, canonical, _, docs, meta = corpus
    # no candidates link the groups: each document is its own cluster,
    # which canonicalization gets right but the recall check fails
    for r in canonical:
        r["cluster_id"], r["is_rep"] = r["doc_id"], True
    msgs = _check(prepped, canonical, [], docs, meta)
    assert msgs and all("near-duplicate" in m for m in msgs)


def test_corpus_oracle_flags_an_unknown_split(corpus):
    prepped = corpus[0]
    prepped[0]["split"] = "holdout"
    assert any("unknown split" in m for m in _check(*corpus))


def test_corpus_oracle_flags_a_document_in_the_wrong_shard(corpus):
    prepped = corpus[0]
    prepped[-1]["shard"] += 1
    assert any("wrong shard" in m for m in _check(*corpus))


def test_candidate_precision():
    meta = {"near_groups": [[1, 2, 3]], "exact_pairs": [[7, 5]]}
    assert oracles.candidate_precision([(1, 2), (5, 7), (1, 9), (2, 4)], meta) == 0.5


# --------------------------------------------------------------------------
# metric names


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class _Tracer:
    spans = [Span("sources.ingest.read_silver", 0.0, 1.0)]

    def seconds(self, name):
        return 1.0

    def groups(self, name):
        return {name}


class _Snapshot:
    stages: list = []

    def stage_sum(self, groups, key):
        return 0.0

    def task_skew(self, groups):
        return 1.0

    def node_sum(self, groups, node, metric):
        return 0.0

    node_max = node_sum

    def scans_of(self, groups, path):
        return 0

    def sql_of(self, groups):
        return []

    jobs_of = sql_of


def _layer_metric_names(tmp_path) -> set[str]:
    from perfbench.workloads import WORKLOADS

    names = set()
    for cls in WORKLOADS.values():
        wl = cls(str(tmp_path), str(tmp_path), 0)
        wl.meta = {"files": [{"format": "zst", "bytes": 1, "rows": 1}], "docs": 1,
                   "path": str(tmp_path)}
        wl.silver_root = wl.gold_root = str(tmp_path)
        wl.zst_files = wl.meta["files"]
        wl.staged_pair_rows = wl.rows_returned = wl.docs_kept = 1
        wl.precision = 1.0
        names |= set(wl.layer_metrics(_Tracer(), _Snapshot()))
    return names


def test_metric_names_match_benchmark_json(tmp_path):
    spec = _spec()
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s", "records_per_s", "stored_bytes_per_input_byte", "peak_rss_mb"}
    # every traced run measures these three; the rest come from the workloads
    common = {"session.start_s", "jvm.gc_s", "trace.overhead_s"}
    per_layer = {m["name"] for m in spec["per_layer"]}
    assert _layer_metric_names(tmp_path) | common == per_layer


def test_unlisted_and_missing_metrics_are_errors():
    from perfbench.run import _metrics

    listed = [{"name": "a_s", "unit": "s"}, {"name": "b_s", "unit": "s"}]
    assert _metrics({"a_s": 1.5}, listed, complete=False) == {
        "a_s": {"value": 1.5, "unit": "s"}, "b_s": {"value": 0.0, "unit": "s"}}
    with pytest.raises(KeyError):
        _metrics({"a_s": 1.5, "c_s": 2.0}, listed, complete=False)
    with pytest.raises(KeyError):  # an end-to-end metric never defaults to 0
        _metrics({"a_s": 1.5}, listed, complete=True)


def test_benchmark_json_shape():
    from perfbench.run import WORKLOAD_NAMES

    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOAD_NAMES)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25
