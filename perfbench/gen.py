"""Seeded input generators with ground truth.

Everything here is a pure function of the seed: the same seed writes
byte-identical archives, documents and truth tables. The program under
test only ever sees the archives and the documents; the truth tables feed
the oracles in :mod:`perfbench.oracles`.

AIS archives are NOAA-shaped daily CSVs. Half the days are ``.csv.zst``
(read by the JVM through the Hadoop zstd codec), half are ``.zip`` (read
by the Python ``mapInPandas`` demux). Header spelling drifts between days
and 1.5 % of rows are junk: unparsable timestamps, out-of-range
coordinates and null MMSIs. The vessel population mixes solitary ships at
sea, co-moving fleets and one congested port cell.
"""

from __future__ import annotations

import io
import json
import os
import zipfile
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Cell edge of the engine's res-7 grid (``functions.geo.grid_cell``):
#: 1.408 / 2**7 degrees. The port anchorage sits inside one such cell.
CELL_DEG = 1.4080 / 2**7

DAY0 = np.datetime64("2024-03-01T00:00:00", "s")

#: Header spellings seen across NOAA file generations. Each snake_cases
#: to names the silver contract resolves (``schema.ID_ALIASES`` etc.).
HEADERS = (
    ("MMSI", "BaseDateTime", "LAT", "LON", "SOG", "COG", "Heading", "VesselName"),
    ("mmsi", "base_date_time", "lat", "lon", "sog", "cog", "heading", "vessel_name"),
    ("Mmsi", "BASEDATETIME", "Lat", "Lon", "Sog", "Cog", "Heading", "VesselName"),
)

#: Timestamp spellings the tiered normalizer accepts, one per day in turn.
TS_FORMATS = ("2024-03-01 00:10:00", "2024-03-01T00:10:00", "2024-03-01T00:10:00Z")

JUNK_SHARE = 0.015


@dataclass(frozen=True)
class AisSpec:
    days: int
    solo: int
    fleets: int
    fleet_size: int
    port: int
    msgs_per_hour: int
    formats: tuple[str, ...]  # per day: "zst" or "zip"


def _vessel_tracks(rng: np.random.Generator, spec: AisSpec):
    """Per-vessel (mmsi, kind, group, start lat/lon, velocity deg/h)."""
    rows = []
    next_id = 200_000_000 + int(rng.integers(0, 1_000_000)) * 100
    for _ in range(spec.solo):
        rows.append((next_id, "solo", -1,
                     rng.uniform(-50, 50), rng.uniform(-170, 170),
                     rng.uniform(-0.15, 0.15), rng.uniform(-0.15, 0.15)))
        next_id += 1
    for f in range(spec.fleets):
        lat0, lon0 = rng.uniform(-50, 50), rng.uniform(-170, 170)
        vlat, vlon = rng.uniform(-0.1, 0.1), rng.uniform(-0.1, 0.1)
        for _ in range(spec.fleet_size):
            rows.append((next_id, "fleet", f,
                         lat0 + rng.uniform(-5e-4, 5e-4),
                         lon0 + rng.uniform(-5e-4, 5e-4), vlat, vlon))
            next_id += 1
    # Port anchorage: the centre of one grid cell, jitter well inside it.
    ci, cj = int(rng.integers(9_000, 10_000)), int(rng.integers(10_000, 20_000))
    plat = (ci + 0.5) * CELL_DEG - 90.0
    plon = (cj + 0.5) * CELL_DEG - 180.0
    for _ in range(spec.port):
        rows.append((next_id, "port", 0, plat, plon, 0.0, 0.0))
        next_id += 1
    return pd.DataFrame(
        rows, columns=["mmsi", "kind", "grp", "lat0", "lon0", "vlat", "vlon"]
    )


def _day_rows(rng, vessels: pd.DataFrame, spec: AisSpec, day: int) -> pd.DataFrame:
    n_v = len(vessels)
    per_v = 24 * spec.msgs_per_hour
    slot = 3600 // spec.msgs_per_hour
    offs = np.arange(per_v) * slot
    jitter = rng.integers(0, slot, size=(n_v, per_v))
    secs = offs[None, :] + jitter + day * 86_400  # seconds since DAY0
    hours = secs / 3600.0
    v = vessels
    is_port = (v["kind"] == "port").to_numpy()[:, None]
    wobble = np.where(is_port, 1.5e-3, 2e-4)
    lat = v["lat0"].to_numpy()[:, None] + v["vlat"].to_numpy()[:, None] * hours
    lon = v["lon0"].to_numpy()[:, None] + v["vlon"].to_numpy()[:, None] * hours
    lat = lat + rng.uniform(-1, 1, size=lat.shape) * wobble
    lon = lon + rng.uniform(-1, 1, size=lon.shape) * wobble
    lat = np.clip(lat, -80.0, 80.0)
    lon = (lon + 180.0) % 360.0 - 180.0
    sog = np.where(is_port, 0.0, 12.0) + rng.uniform(0, 3, size=lat.shape)
    df = pd.DataFrame({
        "mmsi": np.repeat(v["mmsi"].to_numpy(), per_v).astype("int64"),
        "secs": secs.ravel().astype("int64"),
        "lat": lat.ravel().round(6),
        "lon": lon.ravel().round(6),
        "sog": sog.ravel().round(1),
    })
    df["cog"] = rng.uniform(0, 360, size=len(df)).round(1)
    df["heading"] = rng.integers(0, 360, size=len(df))
    df = df.sort_values(["secs", "mmsi"], kind="stable").reset_index(drop=True)
    # junk: a third each of bad timestamp, bad coordinates, null MMSI
    junk = rng.random(len(df)) < JUNK_SHARE
    kind = rng.integers(0, 3, size=len(df))
    df["bad_ts"] = junk & (kind == 0)
    df["bad_xy"] = junk & (kind == 1)
    df["no_id"] = junk & (kind == 2)
    df.loc[df["bad_xy"], "lat"] = 91.5
    df.loc[df["bad_xy"], "lon"] = 200.25
    return df


def _render_csv(df: pd.DataFrame, day: int) -> bytes:
    header = HEADERS[day % len(HEADERS)]
    iso = (DAY0 + df["secs"].to_numpy().astype("timedelta64[s]")).astype(str)
    if day % len(TS_FORMATS) == 0:
        ts = np.char.replace(iso, "T", " ")
    elif day % len(TS_FORMATS) == 2:
        ts = np.char.add(iso, "Z")
    else:
        ts = iso
    ts = np.where(df["bad_ts"].to_numpy(), "2024-13-45 25:61:00", ts)
    ids = np.where(df["no_id"].to_numpy(), "", df["mmsi"].astype(str).to_numpy())
    out = pd.DataFrame({
        header[0]: ids,
        header[1]: ts,
        header[2]: df["lat"],
        header[3]: df["lon"],
        header[4]: df["sog"],
        header[5]: df["cog"],
        header[6]: df["heading"],
        header[7]: "V" + df["mmsi"].astype(str),
    })
    return out.to_csv(index=False, lineterminator="\n").encode()


def write_ais(root: str, seed: int, spec: AisSpec) -> dict:
    """Write ``spec.days`` raw archives under ``root/raw`` and the truth
    table ``root/truth.parquet``; return the metadata the workloads and
    oracles need (see ``meta.json``)."""
    rng = np.random.default_rng([seed, 1])
    vessels = _vessel_tracks(rng, spec)
    os.makedirs(os.path.join(root, "raw"), exist_ok=True)
    files, truth = [], []
    raw_rows = archive_bytes = 0
    for day in range(spec.days):
        df = _day_rows(rng, vessels, spec, day)
        body = _render_csv(df, day)
        name = f"AIS_2024_03_{day + 1:02d}"
        if spec.formats[day] == "zst":
            path = os.path.join(root, "raw", name + ".csv.zst")
            data = pa.compress(body, codec="zstd", asbytes=True)
        else:
            path = os.path.join(root, "raw", name + ".zip")
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                zf.writestr(name + ".csv", body)
            data = buf.getvalue()
        with open(path, "wb") as fh:
            fh.write(data)
        files.append({"path": path, "format": spec.formats[day], "rows": len(df),
                      "bytes": len(data)})
        raw_rows += len(df)
        archive_bytes += len(data)
        truth.append(df.assign(day=day))
    t = pd.concat(truth, ignore_index=True)
    t["ts"] = (DAY0 + t["secs"].to_numpy().astype("timedelta64[s]")).astype(
        "datetime64[us]"
    )
    t = t[["mmsi", "ts", "lat", "lon", "sog", "bad_ts", "bad_xy", "no_id", "day"]]
    pq.write_table(pa.Table.from_pandas(t, preserve_index=False),
                   os.path.join(root, "truth.parquet"))
    meta = {
        "files": files,
        "raw_rows": raw_rows,
        "archive_bytes": archive_bytes,
        "vessels": {
            kind: vessels.loc[vessels["kind"] == kind, "mmsi"].astype(str).tolist()
            for kind in ("solo", "fleet", "port")
        },
        "fleets": [
            g["mmsi"].astype(str).tolist()
            for _, g in vessels[vessels["kind"] == "fleet"].groupby("grp")
        ],
    }
    with open(os.path.join(root, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta


# --------------------------------------------------------------------------
# documents

_STOP = ("the", "and", "of", "to", "a", "in", "is", "that", "it", "for")
_SYL = ("ka", "lo", "mi", "ren", "tas", "vor", "bel", "din", "sul", "pra",
        "nek", "tor", "gal", "mun", "ves", "chi", "dro", "fen", "quo", "zar")
#: Navigation crumbs: under three words, so ``clean_lines`` drops them.
_BOILER = ("Share this", "Read more", "Cookie policy", "Menu", "Log in",
           "Subscribe now")


@dataclass(frozen=True)
class DocSpec:
    docs: int
    vocab: int = 4000
    exact_share: float = 0.10
    near_share: float = 0.10
    short_share: float = 0.08
    pii_share: float = 0.15


def _vocabulary(rng, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(_SYL[int(i)] for i in rng.integers(0, len(_SYL), k)))
    return sorted(words)


def _sentence(rng, vocab, zipf_p, n_words: int) -> list[str]:
    idx = rng.choice(len(vocab), size=n_words, p=zipf_p)
    stop = rng.random(n_words) < 0.35
    sw = rng.integers(0, len(_STOP), n_words)
    return [_STOP[s] if st else vocab[i] for i, st, s in zip(idx, stop, sw)]


def write_docs(root: str, seed: int, spec: DocSpec) -> dict:
    """Write ``root/docs.parquet`` (doc_id BIGINT, text) and return the
    ground truth: exact-duplicate pairs, near-duplicate groups, which
    documents carry PII and which are too short to keep."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, spec.vocab)
    ranks = np.arange(1, len(vocab) + 1, dtype=float)
    zipf_p = (1.0 / ranks) / (1.0 / ranks).sum()
    n = spec.docs
    n_exact = int(n * spec.exact_share)
    n_near = int(n * spec.near_share)
    n_base = n - n_exact - n_near
    texts, pii, short_of = [], [], []
    for _ in range(n_base):
        lines = []
        short = rng.random() < spec.short_share
        n_lines = 1 if short else int(rng.integers(5, 9))
        for i in range(n_lines):
            n_words = int(rng.integers(8, 12) if short else rng.integers(14, 26))
            lines.append(" ".join(_sentence(rng, vocab, zipf_p, n_words)) + ".")
            if i < n_lines - 1 and rng.random() < 0.3:
                lines.append(_BOILER[int(rng.integers(0, len(_BOILER)))])
        has_pii = rng.random() < spec.pii_share
        if has_pii:
            user = vocab[int(rng.integers(0, len(vocab)))]
            phone = (f"{rng.integers(200, 999)}-{rng.integers(200, 999)}-"
                     f"{rng.integers(1000, 9999)}")
            lines.insert(1, f"please write to {user}@example.org or call "
                            f"{phone} for the details")
        texts.append("\n".join(lines))
        pii.append(has_pii)
        short_of.append(short)
    # near duplicates: a base document with one word appended, a
    # one-shingle edit: Jaccard >= 0.99 on every document quality keeps
    # (oracles.NEAR_DUP_RECALL says how often LSH may still miss one)
    near_groups: dict[int, list[int]] = {}
    for _ in range(n_near):
        b = int(rng.integers(0, n_base))
        texts.append(texts[b] + " again")
        pii.append(pii[b])
        short_of.append(short_of[b])
        near_groups.setdefault(b, [b]).append(len(texts) - 1)
    exact_of = []
    for _ in range(n_exact):
        b = int(rng.integers(0, len(texts)))
        texts.append(texts[b])
        pii.append(pii[b])
        short_of.append(short_of[b])
        exact_of.append((b, len(texts) - 1))
    # shuffle ids so duplicates are not adjacent in id order
    perm = rng.permutation(len(texts))
    ids = (perm.astype("int64") * 7 + 1_000)  # row position -> doc_id
    table = pa.table({
        "doc_id": pa.array(ids, type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
    })
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "docs.parquet")
    pq.write_table(table, path)
    to_id = lambda i: int(ids[i])  # noqa: E731
    # exact copies of a near-dup member join that member's group
    groups = {b: set(m) for b, m in near_groups.items()}
    member_of = {m: b for b, ms in groups.items() for m in ms}
    for src, dup in exact_of:
        if src in member_of:
            groups[member_of[src]].add(dup)
            member_of[dup] = member_of[src]
    meta = {
        "path": path,
        "docs": n,
        "input_bytes": os.path.getsize(path),
        "near_groups": [sorted(to_id(i) for i in ms) for ms in groups.values()],
        "exact_pairs": [[to_id(a), to_id(b)] for a, b in exact_of],
        "pii_docs": [to_id(i) for i, p in enumerate(pii) if p],
        # base documents of one line of 8-11 words, and their copies and
        # near copies: under quality_filter's 50 tokens, so prep drops them
        "short_docs": [to_id(i) for i, s in enumerate(short_of) if s],
    }
    with open(os.path.join(root, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    return meta
