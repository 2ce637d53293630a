"""Independent oracles. None of them calls the program under test.

The AIS oracles recompute silver counts, the hourly rollup and
``pairs_daily`` in DuckDB from the generator's truth table, spelling the
reference semantics out in SQL. The corpus oracles check the prepared
corpus with plain Python. Each returns a list of human-readable
mismatches; an empty list means the output is correct.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
from collections import Counter

import duckdb

from perfbench.gen import CELL_DEG

#: the reference's default co-movement threshold (``gT > 1``)
MIN_SHARED_CELLS = 1


def _truth(con, truth_path: str, days: list[int] | None = None) -> None:
    where = f"WHERE day IN ({','.join(map(str, days))})" if days else ""
    con.execute(
        f"CREATE OR REPLACE VIEW truth AS SELECT * FROM read_parquet('{truth_path}') {where}"
    )


def expected_silver_rows(truth_path: str, days: list[int] | None = None) -> int:
    """Silver keeps every row with an id and a parsable timestamp."""
    con = duckdb.connect()
    _truth(con, truth_path, days)
    return con.execute(
        "SELECT count(*) FROM truth WHERE NOT no_id AND NOT bad_ts"
    ).fetchone()[0]


def _gold_views(con) -> None:
    con.execute(f"""
        CREATE OR REPLACE VIEW hourly AS
        SELECT CAST(mmsi AS VARCHAR) AS uid,
               date_trunc('hour', ts) AS w,
               CAST(date_trunc('day', ts) AS DATE) AS day_date,
               count(*) AS n,
               floor((avg(lat) + 90.0) / {CELL_DEG!r}) AS ci,
               floor((avg(lon) + 180.0) / {CELL_DEG!r}) AS cj
        FROM truth
        WHERE NOT no_id AND NOT bad_ts
          AND lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180
        GROUP BY 1, 2, 3
    """)
    con.execute("""
        CREATE OR REPLACE VIEW pairs AS
        WITH co AS (
            SELECT a.uid AS uid_a, b.uid AS uid_b, a.day_date,
                   count(*) AS hT, count(DISTINCT (a.ci, a.cj)) AS gT
            FROM hourly a JOIN hourly b
              ON a.day_date = b.day_date AND a.w = b.w
             AND a.ci = b.ci AND a.cj = b.cj AND a.uid < b.uid
            GROUP BY 1, 2, 3
        ), stats AS (
            SELECT uid, day_date, count(*) AS h, count(DISTINCT (ci, cj)) AS g
            FROM hourly GROUP BY 1, 2
        )
        SELECT co.uid_a, co.uid_b, co.day_date, co.hT, co.gT,
               0.5 * (co.hT / least(sa.h, sb.h) + co.gT / least(sa.g, sb.g)) AS gto
        FROM co
        JOIN stats sa ON sa.uid = co.uid_a AND sa.day_date = co.day_date
        JOIN stats sb ON sb.uid = co.uid_b AND sb.day_date = co.day_date
    """)


class GoldOracle:
    """Expected gold tables for the days ``days`` of one truth table."""

    def __init__(self, truth_path: str, days: list[int] | None = None):
        self.con = duckdb.connect()
        _truth(self.con, truth_path, days)
        _gold_views(self.con)

    def hourly_rows(self) -> int:
        return self.con.execute("SELECT count(*) FROM hourly").fetchone()[0]

    def pairs_daily(self) -> dict[tuple[str, str, str], float]:
        rows = self.con.execute(
            f"SELECT uid_a, uid_b, CAST(day_date AS VARCHAR), gto FROM pairs "
            f"WHERE gT > {MIN_SHARED_CELLS}"
        ).fetchall()
        return {(a, b, d): round(g, 9) for a, b, d, g in rows}

    def track(self, uids: list[str], start: str, stop: str) -> tuple[int, float]:
        """(row count, sum of latitudes) of one cohort track export."""
        ids = ",".join(f"'{u}'" for u in uids)
        n, s = self.con.execute(f"""
            SELECT count(*), coalesce(sum(lat), 0) FROM truth
            WHERE NOT no_id AND NOT bad_ts
              AND CAST(mmsi AS VARCHAR) IN ({ids})
              AND ts BETWEEN TIMESTAMP '{start}' AND TIMESTAMP '{stop}'
              AND lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180
        """).fetchone()
        return int(n), round(float(s), 4)


def parquet_rows(root: str) -> int:
    """Rows under a parquet root, counted by DuckDB. Silver files from
    ``.zip`` days type every column as string and ``.csv.zst`` days infer
    numbers, so the union is by name."""
    files = glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    return duckdb.connect().execute(
        "SELECT count(*) FROM read_parquet(?, union_by_name=true)", [files]
    ).fetchone()[0]


def read_parquet(root: str, columns: str = "*") -> list[dict]:
    """Rows of a (hive-partitioned) parquet root, read by DuckDB."""
    con = duckdb.connect()
    rel = con.execute(
        f"SELECT {columns} FROM read_parquet('{root}/**/*.parquet', hive_partitioning=true)"
    )
    names = [d[0] for d in rel.description]
    return [dict(zip(names, row)) for row in rel.fetchall()]


def check_silver(silver_root: str, expected_rows: int) -> list[str]:
    n = parquet_rows(silver_root)
    if n != expected_rows:
        return [f"silver rows {n} != expected {expected_rows}"]
    return []


def check_pairs(actual: dict, expected: dict) -> list[str]:
    missing = expected.keys() - actual.keys()
    extra = actual.keys() - expected.keys()
    bad = [k for k in expected.keys() & actual.keys()
           if abs(expected[k] - actual[k]) > 1e-6]
    out = []
    if missing:
        out.append(f"{len(missing)} pairs_daily rows missing, e.g. {sorted(missing)[0]}")
    if extra:
        out.append(f"{len(extra)} unexpected pairs_daily rows, e.g. {sorted(extra)[0]}")
    if bad:
        out.append(f"{len(bad)} pairs_daily rows with wrong gto, e.g. {sorted(bad)[0]}")
    return out


# --------------------------------------------------------------------------
# corpus

EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
PHONE = re.compile(r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b")

#: Share of the generator's near-duplicate groups whose kept members must
#: land in one cluster. This bounds the recall of the LSH candidates; the
#: clusters themselves are checked exactly by :func:`check_canonical`.
#: Each group's members differ by one appended word (one 3-shingle in
#: ~140). With 16 independent min-hashes in 4 bands of 4 such a pair is
#: missed with probability below 1e-6, but ``minhash_signatures`` derives
#: its hashes as h1 + j*h2, so the rows of a band are correlated and
#: about 1 % of these pairs are missed (a Python model of the same hashes
#: over 12 seeds: 0 to 3 misses in 75-78 groups). 0.9 leaves room for
#: that and still fails candidates that do not link the groups.
NEAR_DUP_RECALL = 0.9


def fingerprint(text: str) -> str:
    """Exact-duplicate key, spelled independently of the program: lower
    case, non-alphanumerics to spaces, whitespace collapsed."""
    norm = re.sub(r"[^\w\s]|_", " ", text.lower())
    norm = re.sub(r"\s+", " ", norm).strip()
    return hashlib.md5(norm.encode()).hexdigest()


def expected_shards(prepped, tokens_per_shard: int) -> dict:
    """Shard of each document: within its split, in doc_id order, the
    shard its first token falls in when the split's whitespace tokens are
    laid end to end in ``tokens_per_shard`` blocks."""
    shard, cum = {}, {}
    for r in sorted(prepped, key=lambda r: (r["split"], r["doc_id"])):
        start = cum.get(r["split"], 0)
        shard[r["doc_id"]] = start // tokens_per_shard
        cum[r["split"]] = start + len(r["text"].split())
    return shard


def check_kept(ids, docs, short_docs) -> list[str]:
    """Exactly one survivor per distinct input text among the documents
    long enough to keep (``docs``: input rows (doc_id, text)), and no
    other document."""
    short = set(short_docs)
    text_of = {d["doc_id"]: hashlib.md5(d["text"].encode()).hexdigest()
               for d in docs if d["doc_id"] not in short}
    want = set(text_of.values())
    out = []
    stray = [i for i in ids if i not in text_of]
    if stray:
        out.append(f"{len(stray)} short or unknown documents kept, e.g. {stray[0]}")
    copies = Counter(text_of[i] for i in ids if i in text_of)
    lost = len(want - copies.keys())
    if lost:
        out.append(f"{lost} distinct input texts have no survivor")
    twice = sum(1 for n in copies.values() if n > 1)
    if twice:
        out.append(f"{twice} input texts have more than one survivor")
    if len(ids) != len(want):
        out.append(f"kept {len(ids)} documents, expected {len(want)}")
    return out


def expected_canonical(prepped, candidates) -> dict:
    """doc_id -> (cluster_id, rep_id): the connected components of the
    candidate pairs over the prepared documents (union-find), labelled by
    their smallest id; the representative has the longest text, ties
    going to the smallest id."""
    parent = {r["doc_id"]: r["doc_id"] for r in prepped}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in candidates:
        ra, rb = root(a), root(b)
        parent[max(ra, rb)] = min(ra, rb)  # the root stays the smallest id
    best = {}
    for r in prepped:
        c = root(r["doc_id"])
        best[c] = max(best.get(c, (-1, 0)), (len(r["text"]), -r["doc_id"]))
    return {d: (root(d), -best[root(d)][1]) for d in parent}


def check_canonical(prepped, canonical, candidates) -> list[str]:
    """``canonical``: rows (doc_id, cluster_id, is_rep), one per prepared
    document, compared exactly with :func:`expected_canonical`."""
    want = expected_canonical(prepped, candidates)
    got = {r["doc_id"]: r for r in canonical}
    if got.keys() != want.keys() or len(canonical) != len(got):
        return [f"canonicalization has {len(canonical)} rows for {len(got)} ids, "
                f"expected one row for each of {len(want)} documents"]
    out = []
    wrong_cluster = [d for d, (c, _) in want.items() if got[d]["cluster_id"] != c]
    if wrong_cluster:
        out.append(f"{len(wrong_cluster)} documents in the wrong cluster, "
                   f"e.g. {wrong_cluster[0]}")
    wrong_rep = [d for d, (_, rep) in want.items() if bool(got[d]["is_rep"]) != (d == rep)]
    if wrong_rep:
        out.append(f"{len(wrong_rep)} documents with the wrong is_rep, e.g. {wrong_rep[0]}")
    reps = Counter(r["cluster_id"] for r in canonical if r["is_rep"])
    clusters = {r["cluster_id"] for r in canonical}
    bad = [c for c in clusters if reps[c] != 1]
    if bad:
        out.append(f"{len(bad)} clusters without exactly one representative, e.g. {bad[0]}")
    return out


def check_corpus(prepped, canonical, candidates, docs, meta: dict,
                 splits: dict[str, int], tokens_per_shard: int) -> list[str]:
    """``prepped``: rows (doc_id, text, split, shard) of the prep-corpus
    output; ``canonical``: rows (doc_id, cluster_id, is_rep) of the
    canonicalization over it; ``candidates``: the (id_a, id_b) LSH
    candidate pairs over it; ``docs``: rows (doc_id, text) of the input."""
    out = []
    ids = [r["doc_id"] for r in prepped]
    if not ids:
        return ["prepared corpus is empty"]
    if len(set(ids)) != len(ids):
        out.append(f"{len(ids) - len(set(ids))} doc_ids appear more than once")
    out += check_kept(ids, docs, meta["short_docs"])
    fps = [fingerprint(r["text"]) for r in prepped]
    if len(set(fps)) != len(fps):
        out.append(f"{len(fps) - len(set(fps))} exact-duplicate texts survive")
    leaked = [r["doc_id"] for r in prepped if EMAIL.search(r["text"]) or PHONE.search(r["text"])]
    if leaked:
        out.append(f"{len(leaked)} documents still carry PII, e.g. {leaked[0]}")
    bad_split = [r["doc_id"] for r in prepped if r["split"] not in splits]
    if bad_split:
        out.append(f"{len(bad_split)} documents in an unknown split")
    want_shard = expected_shards(prepped, tokens_per_shard)
    bad_shard = [r["doc_id"] for r in prepped if r["shard"] != want_shard[r["doc_id"]]]
    if bad_shard:
        out.append(f"{len(bad_shard)} documents in the wrong shard, e.g. {bad_shard[0]}")
    canon_errors = check_canonical(prepped, canonical, candidates)
    out += canon_errors
    if canon_errors:
        return out
    cluster = {r["doc_id"]: r["cluster_id"] for r in canonical}
    kept = set(ids)
    groups = [[d for d in g if d in kept] for g in meta["near_groups"]]
    groups = [g for g in groups if len(g) > 1]
    collapsed = sum(1 for g in groups if len({cluster[d] for d in g}) == 1)
    if groups and collapsed < NEAR_DUP_RECALL * len(groups):
        out.append(f"only {collapsed} of {len(groups)} near-duplicate groups collapsed")
    return out


def candidate_precision(candidates, meta: dict) -> float:
    """Share of LSH candidate pairs that the generator made as duplicates
    (same near-duplicate group or exact copies)."""
    group_of = {}
    for gi, g in enumerate(meta["near_groups"]):
        for d in g:
            group_of[d] = gi
    exact = {tuple(sorted(p)) for p in meta["exact_pairs"]}
    cands = list(candidates)
    if not cands:
        return 0.0
    good = 0
    for a, b in cands:
        ga, gb = group_of.get(a), group_of.get(b)
        if (ga is not None and ga == gb) or (min(a, b), max(a, b)) in exact:
            good += 1
    return good / len(cands)
