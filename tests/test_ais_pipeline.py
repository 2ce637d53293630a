"""Reference-parity tests on an AIS-shaped fixture (FIXTURES.md F1/F1b):
hourly rollup contracts, co-movement pair math (incl. the dense/sparse
overlap-coefficient case and the gT>1 filter), dedup window, gold refresh
reconciliation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _ais_fixture(spark):
    """Two days; vessels A/B co-moving (same positions hourly), C dense +
    D sparse on the same path, E a singleton-hex coincidence with A, F far
    away, plus junk rows (bad ts, bad coords, null mmsi)."""
    rows = []
    # A and B co-move: hours 0..5 both days, same position per hour
    for day in (1, 2):
        for h in range(6):
            lat, lon = 10.0 + h * 0.5, 20.0 + h * 0.5
            rows.append(("A", f"2025-01-0{day} 0{h}:10:00", lat, lon, 8.0))
            rows.append(("B", f"2025-01-0{day} 0{h}:20:00", lat, lon, 8.5))
    # C dense (6 msgs/hour) vs D sparse (1 msg/hour), same path, day 1, hours 0..3
    for h in range(4):
        lat, lon = -30.0 + h, 50.0 + h
        for m in range(6):
            rows.append(("C", f"2025-01-01 0{h}:{10+m*5}:00", lat, lon, 10.0))
        rows.append(("D", f"2025-01-01 0{h}:30:00", lat, lon, 10.0))
    # E meets A exactly once (one shared hex-hour on day 1, hour 0)
    rows.append(("E", "2025-01-01 00:40:00", 10.0, 20.0, 5.0))
    # F alone far away
    rows.append(("F", "2025-01-01 03:00:00", 60.0, -150.0, 3.0))
    # junk: unparsable ts, invalid coords, null mmsi
    rows.append(("G", "not-a-date", 10.0, 10.0, 1.0))
    rows.append(("H", "2025-01-01 01:00:00", 99.0, 10.0, 1.0))
    rows.append((None, "2025-01-01 01:00:00", 10.0, 10.0, 1.0))
    return spark.createDataFrame(
        rows,
        "mmsi string, base_date_time string, latitude double, longitude double, sog double",
    )


@pytest.fixture(scope="module")
def hourly(spark):
    from knot_another_pipeline_spark.operators.rollup import build_uid_hourly_h3

    return build_uid_hourly_h3(_ais_fixture(spark)).cache()


def test_hourly_contracts(hourly):
    rows = hourly.collect()
    assert rows, "hourly rollup empty"
    for r in rows:
        # data_contracts.md:86-90: positive counts, valid coords, hour
        # alignment, 15-hex-char cell
        assert r["message_count"] > 0
        assert -90 <= r["avg_lat"] <= 90 and -180 <= r["avg_lon"] <= 180
        assert r["hour_ts"].minute == 0 and r["hour_ts"].second == 0
        assert len(r["h3_index"]) == 15
        assert r["hour"] == r["hour_ts"].hour
        assert r["dt"] == r["hour_ts"].date()
    # junk rows dropped: G (bad ts), H (lat 99), null mmsi
    uids = {r["mmsi"] for r in rows}
    assert "G" not in uids and "H" not in uids and None not in uids


def test_hourly_counts_reconcile(spark, hourly):
    # A reports 6 msgs/day × 2 days; C 24 msgs; D 4
    per_uid = {
        r["mmsi"]: r["n"]
        for r in hourly.groupBy("mmsi").agg(F.sum("message_count").alias("n")).collect()
    }
    assert per_uid["A"] == 12 and per_uid["B"] == 12
    assert per_uid["C"] == 24 and per_uid["D"] == 4


@pytest.fixture(scope="module")
def pairs(spark, hourly):
    from knot_another_pipeline_spark.operators.pairs import co_movement_pairs

    return co_movement_pairs(
        hourly.select(
            F.col("mmsi").alias("uid"),
            F.col("hour_ts").alias("window_ts"),
            F.col("h3_index").alias("cell"),
        ),
    ).cache()


def test_pairs_ab_co_moving(pairs):
    ab = {(r["uid_a"], r["uid_b"], str(r["day_date"])): r for r in pairs.collect()}
    # A-B share 6 hours × 6 hexes both days → perfect overlap
    for day in ("2025-01-01", "2025-01-02"):
        r = ab[("A", "B", day)]
        assert r["hT"] == 6 and r["gT"] == 6
        assert r["temporal_o"] == pytest.approx(1.0)
        assert r["spatial_o"] == pytest.approx(1.0)
        assert r["gto"] == pytest.approx(1.0)


def test_pairs_dense_sparse_overlap_not_jaccard(pairs):
    """README.md:157-168: overlap coefficient uses min() denominators, so
    the sparse vessel's full containment scores 1.0 where Jaccard would
    dilute it."""
    r = next(
        r for r in pairs.collect() if r["uid_a"] == "C" and r["uid_b"] == "D"
    )
    assert r["hT"] == 4 and r["gT"] == 4
    # D has 4 hour-rows, C has 4 too (dense msgs collapse per hour)
    assert r["temporal_o"] == pytest.approx(1.0)
    assert r["spatial_o"] == pytest.approx(1.0)


def test_singleton_hex_pairs_filtered(pairs):
    """gT > 1 drops single-shared-hex coincidences
    (create_pairs_daily.sql:79): A-E met exactly once."""
    assert not [
        r for r in pairs.collect() if r["uid_a"] == "A" and r["uid_b"] == "E"
    ]
    # anti-symmetry: uid_a < uid_b always
    for r in pairs.collect():
        assert r["uid_a"] < r["uid_b"]


def test_pairs_total_summary(spark, pairs):
    from knot_another_pipeline_spark.operators.pairs import pairs_total

    totals = {(r["uid_a"], r["uid_b"]): r for r in pairs_total(pairs).collect()}
    ab = totals[("A", "B")]
    assert ab["total_days_observed"] == 2
    assert ab["days_with_gto_above_0_4"] == 2
    assert ab["max_gto"] == pytest.approx(1.0)
    assert ab["median_gto"] == pytest.approx(1.0)


def test_gold_refresh_reconciliation(spark):
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold

    result = refresh_gold(spark, _ais_fixture(spark), run_checks=True)
    report = {r["check_name"]: r for r in result.report.collect()}
    assert report["sum_message_count_matches_silver"]["passed"]
    assert report["sum_source_row_count_matches_silver"]["passed"]
    assert report["uid_hourly_rows_positive"]["passed"]


def test_latest_row_dedup(spark):
    from knot_another_pipeline_spark.operators.dedup import latest_row_dedup

    df = spark.createDataFrame(
        [
            ("A", "2025-01-01 00:00:00", 1),
            ("A", "2025-01-01 00:00:00", 2),  # same key+ts, later ingest wins
            ("A", "2025-01-02 00:00:00", 3),
            ("B", "2025-01-01 00:00:00", 4),
        ],
        "mmsi string, ts string, ingest long",
    )
    out = latest_row_dedup(df, ["mmsi", "ts"], "ingest")
    got = {(r["mmsi"], r["ts"]): r["ingest"] for r in out.collect()}
    assert got[("A", "2025-01-01 00:00:00")] == 2
    assert got[("A", "2025-01-02 00:00:00")] == 3
    assert got[("B", "2025-01-01 00:00:00")] == 4


def test_pairs_mega_cell_skew_guard(spark):
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.operators.pairs import co_movement_pairs

    # window t0, hot cell: 5 entities + v1 co-located (6 > cap);
    # window t1, quiet cell: v1 and v2.
    rows = [(f"u{i}", "2025-01-01 00:00:00", "HOT") for i in range(5)]
    rows += [("v1", "2025-01-01 00:00:00", "HOT")]
    rows += [("v1", "2025-01-01 01:00:00", "QUIET"), ("v2", "2025-01-01 01:00:00", "QUIET")]
    roll = spark.createDataFrame(
        rows, "uid string, window_ts string, cell string"
    ).withColumn("window_ts", F.to_timestamp("window_ts"))

    unguarded = co_movement_pairs(roll, min_shared_cells=0)
    assert unguarded.count() == 15 + 1  # C(6,2) hot + 1 quiet

    guarded = co_movement_pairs(roll, min_shared_cells=0, max_entities_per_cell=4)
    got = {(r["uid_a"], r["uid_b"]) for r in guarded.collect()}
    assert got == {("v1", "v2")}  # mega-cell pairs dropped pre-join
    # Denominators still count the dropped window (reference semantics:
    # per-vessel stats in create_pairs_daily.sql:57-66 are computed before
    # any cap) — v1 was active in 2 windows, only 1 shared.
    r = guarded.collect()[0]
    assert r["hA"] == 2 and r["gA"] == 2  # v1: HOT window counted
    assert r["hB"] == 1 and r["hT"] == 1
    assert r["temporal_o"] == 1.0  # hT / least(hA, hB) = 1/1


def test_skew_guard_broadcasts_oversize_side(spark):
    """Scale-safety plan assertion (VERDICT r2 'What's wrong' #1): the
    guard must broadcast the tiny over-cap set and left_anti it away —
    never the near-total keep-list (driver OOM at AIS scale)."""
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.operators.pairs import co_movement_pairs

    rows = [(f"u{i}", "2025-01-01 00:00:00", "HOT") for i in range(5)]
    rows += [("v1", "2025-01-01 01:00:00", "Q"), ("v2", "2025-01-01 01:00:00", "Q")]
    roll = spark.createDataFrame(
        rows, "uid string, window_ts string, cell string"
    ).withColumn("window_ts", F.to_timestamp("window_ts"))

    guarded = co_movement_pairs(roll, min_shared_cells=0, max_entities_per_cell=4)
    plan = guarded._jdf.queryExecution().executedPlan().toString()
    # anti-join against a broadcast build side...
    assert "LeftAnti" in plan and "BroadcastExchange" in plan
    # ...and the broadcast relation is the count>cap filter (oversize),
    # not a count<=cap keep-list.
    assert "_n_entities" in plan
    assert "> 4)" in plan and "<= 4)" not in plan
    # no semi-join guard anywhere
    assert "LeftSemi" not in plan


def test_refresh_gold_skew_guard_on_by_default(spark):
    """The mega-cell guard is wired through refresh_gold with a sane
    default (VERDICT r1 #6) and actually reaches the pairs join."""
    import inspect

    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold

    default = inspect.signature(refresh_gold).parameters[
        "max_entities_per_cell"
    ].default
    assert default == 10_000
    # cap=1 → every co-located cell-window (always ≥2 entities) dropped
    result = refresh_gold(
        spark, _ais_fixture(spark), run_checks=False, max_entities_per_cell=1
    )
    assert result.pairs.count() == 0
    # and the fixture's real pairs survive the default cap
    result = refresh_gold(spark, _ais_fixture(spark), run_checks=False)
    assert result.pairs.count() > 0


def test_skew_guard_trim_count_reported(spark):
    """When the guard trims anything, the reconciliation report says how
    much (ADVICE r2: capped data must be observable, not silent)."""
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold

    # default cap: fixture has no mega-cells → trimmed = 0
    result = refresh_gold(spark, _ais_fixture(spark), run_checks=True)
    report = {r["check_name"]: r for r in result.report.collect()}
    row = report["mega_cell_windows_trimmed"]
    assert row["observed"] == 0 and row["passed"]

    # cap=1: every co-located cell-window (>=2 entities) is trimmed
    result = refresh_gold(
        spark, _ais_fixture(spark), run_checks=True, max_entities_per_cell=1
    )
    report = {r["check_name"]: r for r in result.report.collect()}
    assert report["mega_cell_windows_trimmed"]["observed"] > 0

    # guard off → no trim row at all
    result = refresh_gold(
        spark, _ais_fixture(spark), run_checks=True, max_entities_per_cell=None
    )
    report = {r["check_name"]: r for r in result.report.collect()}
    assert "mega_cell_windows_trimmed" not in report


def _mini_silver(spark, day: str):
    rows = []
    for h in (0, 1):
        lat, lon = 10.0 + h, 20.0 + h
        rows.append(("A", f"{day} 0{h}:10:00", lat, lon, 5.0))
        rows.append(("B", f"{day} 0{h}:20:00", lat, lon, 5.5))
    return spark.createDataFrame(
        rows,
        "mmsi string, base_date_time string, latitude double, longitude double, sog double",
    )


def test_refresh_append_totals_cover_full_history(spark, tmp_path):
    """ADVICE r1: appending day 2 must rebuild pairs_total from the whole
    materialized pairs_daily, not just the appended day."""
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold

    gold = str(tmp_path / "gold")
    refresh_gold(
        spark, _mini_silver(spark, "2025-01-01"),
        output_root=gold, mode="replace", run_checks=False,
    )
    result = refresh_gold(
        spark, _mini_silver(spark, "2025-01-02"),
        output_root=gold, mode="append", run_checks=False,
    )
    totals = {
        (r["uid_a"], r["uid_b"]): r
        for r in spark.read.parquet(f"{gold}/pairs_total").collect()
    }
    assert totals[("A", "B")]["total_days_observed"] == 2
    # the returned DataFrame reflects the recomputed summary too
    in_memory = {
        (r["uid_a"], r["uid_b"]): r for r in result.totals.collect()
    }
    assert in_memory[("A", "B")]["total_days_observed"] == 2


def test_refresh_replace_fewer_days_totals_cover_full_history(spark, tmp_path):
    """ADVICE r2: 'replace' uses dynamic partition overwrite, which keeps
    on-disk day partitions absent from this run's input — so a replace
    run covering fewer days than the table holds must STILL rebuild
    pairs_total from the whole materialized pairs_daily."""
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold

    gold = str(tmp_path / "gold")
    both = _mini_silver(spark, "2025-01-01").union(
        _mini_silver(spark, "2025-01-02")
    )
    refresh_gold(spark, both, output_root=gold, mode="replace", run_checks=False)
    # replace run with only day-2 input: overwrites day-2 partitions,
    # day-1 partitions stay on disk
    refresh_gold(
        spark, _mini_silver(spark, "2025-01-02"),
        output_root=gold, mode="replace", run_checks=False,
    )
    days_on_disk = {
        str(r["day_date"])
        for r in spark.read.parquet(f"{gold}/pairs_daily")
        .select("day_date").distinct().collect()
    }
    assert days_on_disk == {"2025-01-01", "2025-01-02"}
    totals = {
        (r["uid_a"], r["uid_b"]): r
        for r in spark.read.parquet(f"{gold}/pairs_total").collect()
    }
    assert totals[("A", "B")]["total_days_observed"] == 2


def _port_silver(spark, day: str):
    """One day of a stationary port cluster: P0..P7 moored in one cell,
    of which P0-P2 sail out together at hour 6; a 4-vessel fleet that
    crosses the port cell at hour 3; Q0/Q1 sharing exactly two cells;
    a solitary ship; junk rows."""
    rows = []
    for h in range(12):
        ts = f"{day} {h:02d}:15:00"
        for p in range(8):
            if p < 3 and h >= 6:
                rows.append((f"P{p}", ts, 11.0 + h * 0.4, 21.0 + h * 0.4, 9.0))
            else:
                rows.append((f"P{p}", ts, 10.0, 20.0, 0.1))
        for f in range(4):
            lat, lon = (10.0, 20.0) if h == 3 else (5.0 + h * 0.5, 15.0 + h * 0.5)
            rows.append((f"F{f}", f"{day} {h:02d}:{20 + f}:00", lat, lon, 12.0))
        rows.append(("S", ts, 60.0, -150.0, 3.0))
    for h in range(6):
        for q in (0, 1):
            lat = 30.0 + h if h < 2 else 30.0 + h + 5 * q
            rows.append((f"Q{q}", f"{day} {h:02d}:40:00", lat, 40.0, 7.0))
    rows.append(("G", "not-a-date", 10.0, 10.0, 1.0))
    rows.append(("H", f"{day} 01:00:00", 99.0, 10.0, 1.0))
    rows.append((None, f"{day} 01:00:00", 10.0, 10.0, 1.0))
    return spark.createDataFrame(
        rows,
        "mmsi string, base_date_time string, latitude double, longitude double, sog double",
    )


def _gold_oracle(hourly_rows, silver_kept, min_shared_cells, cap):
    """Plain-Python pairs_daily, pairs_total and DQ report from the hourly
    rows: the reference all-pairs definition, with cell-windows above
    ``cap`` left out of the pairing but counted in the denominators."""
    import statistics
    from collections import defaultdict

    at = defaultdict(set)
    wins, geos = defaultdict(set), defaultdict(set)
    for r in hourly_rows:
        at[(r["dt"], r["hour_ts"], r["h3_index"])].add(r["mmsi"])
        wins[(r["mmsi"], r["dt"])].add(r["hour_ts"])
        geos[(r["mmsi"], r["dt"])].add(r["h3_index"])
    shared = defaultdict(lambda: [0, set()])
    trimmed = 0
    for (day, _, cell), uids in at.items():
        if cap is not None and len(uids) > cap:
            trimmed += 1
            continue
        for a in uids:
            for b in uids:
                if a < b:
                    shared[(a, b, day)][0] += 1
                    shared[(a, b, day)][1].add(cell)
    daily = {}
    for (a, b, day), (ht, cells) in shared.items():
        gt = len(cells)
        if gt <= min_shared_cells:
            continue
        ha, hb = len(wins[(a, day)]), len(wins[(b, day)])
        ga, gb = len(geos[(a, day)]), len(geos[(b, day)])
        t, sp = ht / min(ha, hb), gt / min(ga, gb)
        daily[(a, b, day)] = (ha, hb, ga, gb, ht, gt, t, sp, 0.5 * (t + sp))
    by_pair = defaultdict(list)
    for (a, b, _), v in daily.items():
        by_pair[(a, b)].append(v[-1])
    totals = {
        k: (len(g), sum(x >= 0.4 for x in g), max(g), min(g),
            statistics.fmean(g), statistics.median(g))
        for k, g in by_pair.items()
    }
    msgs = sum(r["message_count"] for r in hourly_rows)
    report = {
        "uid_hourly_rows_positive": (len(hourly_rows), 1),
        "sum_message_count_matches_silver": (msgs, silver_kept),
        "sum_source_row_count_matches_silver": (msgs, silver_kept),
        "pairs_rows_nonnegative": (len(daily), 0),
    }
    if cap is not None:
        report["mega_cell_windows_trimmed"] = (trimmed, 0)
    return daily, totals, report


def _approx_rows(got: dict, want: dict):
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-12), k


@pytest.mark.parametrize("min_shared_cells", [0, 1, 2])
def test_refresh_prune_and_readback_exact(spark, tmp_path, min_shared_cells):
    """The pre-join prune (geo_cnt <= min_shared_cells can never pair) and
    the write-once/read-back flow give the all-pairs answer, with the skew
    cap trimming the port cell; an append of a day the gold root already
    holds reports only its own rows."""
    from knot_another_pipeline_spark.operators.rollup import build_uid_hourly_h3
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold

    gold = str(tmp_path / "gold")
    cap = 4
    kw = dict(min_shared_cells=min_shared_cells, max_entities_per_cell=cap)

    def check(silver, mode):
        result = refresh_gold(spark, silver, output_root=gold, mode=mode, **kw)
        hourly = build_uid_hourly_h3(silver).collect()
        kept = sum(r["message_count"] for r in hourly)
        daily, totals, report = _gold_oracle(hourly, kept, min_shared_cells, cap)
        got_report = {
            r["check_name"]: (r["observed"], r["expected"])
            for r in result.report.collect()
        }
        assert got_report == report
        got_daily = {
            (r["uid_a"], r["uid_b"], r["day_date"]): tuple(r)[3:]
            for r in result.pairs.collect()
        }
        _approx_rows(got_daily, daily)
        return daily, totals

    day2 = _port_silver(spark, "2025-01-02")
    daily, totals = check(_port_silver(spark, "2025-01-01").union(day2), "replace")
    assert daily, "fixture must produce pairs"
    # the moored port vessels (one cell all day) never pair at msc >= 1
    if min_shared_cells >= 1:
        assert not [k for k in daily if k[0] > "P2" and k[1].startswith("P")]
    got_totals = {
        (r["uid_a"], r["uid_b"]): tuple(r)[2:]
        for r in spark.read.parquet(f"{gold}/pairs_total").collect()
    }
    _approx_rows(got_totals, totals)
    if min_shared_cells != 1:
        return
    # append a day the root already holds: the read-back and the report
    # see this run's rows only, while pairs_daily keeps both copies
    daily2, _ = check(day2, "append")
    stored = spark.read.parquet(f"{gold}/pairs_daily").count()
    assert stored == len(daily) + len(daily2)


def test_refresh_reads_silver_once(spark, tmp_path):
    """A refresh with output and DQ checks reads each silver row exactly
    once: the hourly table is written once and everything downstream
    (pairs, totals, the DQ counts) comes from the gold it wrote."""
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold

    seen = spark.sparkContext.accumulator(0)

    def bump(_):
        seen.add(1)
        return True

    silver = _ais_fixture(spark)
    n = silver.count()
    counted = silver.filter(F.udf(bump, "boolean").asNondeterministic()("mmsi"))
    result = refresh_gold(
        spark, counted, output_root=str(tmp_path / "gold"), run_checks=True
    )
    assert all(r["passed"] for r in result.report.collect())
    result.pairs.collect()
    result.totals.collect()
    assert seen.value == n


def test_refresh_runs_pairs_join_once(spark, tmp_path, monkeypatch):
    """A refresh with output and DQ checks produces each pair row exactly
    once: the pairs_daily write and the DQ pair count read one pin
    instead of running the pairs join again."""
    from knot_another_pipeline_spark.plans import gold_refresh

    seen = spark.sparkContext.accumulator(0)

    def bump(_):
        seen.add(1)
        return True

    counting = F.udf(bump, "boolean").asNondeterministic()
    join = gold_refresh.co_movement_pairs
    monkeypatch.setattr(
        gold_refresh,
        "co_movement_pairs",
        lambda *a, **kw: join(*a, **kw).filter(counting("uid_a")),
    )
    gold = str(tmp_path / "gold")
    result = gold_refresh.refresh_gold(
        spark, _ais_fixture(spark), output_root=gold, run_checks=True
    )
    assert all(r["passed"] for r in result.report.collect())
    stored = spark.read.parquet(f"{gold}/pairs_daily").count()
    assert stored > 0
    assert seen.value == stored


def _files_per_partition(root) -> dict[str, int]:
    """Parquet data files per leaf partition directory under ``root``."""
    import os

    out = {}
    for d, _, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            out[os.path.relpath(d, root)] = n
    return out


def _rows(df, cols):
    from collections import Counter

    return Counter(tuple(r) for r in df.select(*cols).collect())


def test_refresh_writes_one_file_per_gold_partition(spark, tmp_path):
    """Each gold partition is written as one file set sized by the write,
    not by the pairs exchange upstream: a replace and then an append of a
    new day leave exactly one parquet file per pairs_daily day and per
    uid_hourly_h3 (dt, hour), holding the rows the refresh returned."""
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold

    gold = str(tmp_path / "gold")
    days = ("2025-01-01", "2025-01-02", "2025-01-03")
    first = refresh_gold(
        spark,
        _port_silver(spark, days[0]).union(_port_silver(spark, days[1])),
        output_root=gold, mode="replace", run_checks=False,
    )
    second = refresh_gold(
        spark, _port_silver(spark, days[2]),
        output_root=gold, mode="append", run_checks=False,
    )
    pairs_files = _files_per_partition(f"{gold}/pairs_daily")
    assert pairs_files == {f"year=2025/month=1/day={d}": 1 for d in (1, 2, 3)}
    hourly_files = _files_per_partition(f"{gold}/uid_hourly_h3")
    assert hourly_files == {
        f"dt={d}/hour_part={h}": 1 for d in days for h in range(12)
    }
    for name, got in (("pairs_daily", "pairs"), ("uid_hourly_h3", "hourly")):
        cols = getattr(first, got).columns
        want = _rows(getattr(first, got), cols) + _rows(getattr(second, got), cols)
        assert _rows(spark.read.parquet(f"{gold}/{name}"), cols) == want


def test_refresh_days_dq_counts_only_those_days(spark, tmp_path):
    """A targeted rebuild filters silver, not hourly, so the observed
    silver count and the hourly sums cover the same day and DQ passes —
    through refresh_gold and through the CLI."""
    from knot_another_pipeline_spark.__main__ import main
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold
    from knot_another_pipeline_spark.sources.ingest import to_silver, write_silver

    both = _mini_silver(spark, "2025-01-01").union(_mini_silver(spark, "2025-01-02"))
    result = refresh_gold(
        spark, both, output_root=str(tmp_path / "gold"), days=["2025-01-02"]
    )
    report = {r["check_name"]: r for r in result.report.collect()}
    msg = report["sum_message_count_matches_silver"]
    assert (msg["observed"], msg["expected"]) == (4, 4) and msg["passed"]
    assert {str(r["dt"]) for r in result.hourly.collect()} == {"2025-01-02"}
    # a day silver does not hold: an empty rollup, reported, not raised
    result = refresh_gold(
        spark, both, output_root=str(tmp_path / "gold"), days=["2025-01-05"]
    )
    report = {r["check_name"]: r for r in result.report.collect()}
    assert not report["uid_hourly_rows_positive"]["passed"]
    # the empty sums reconcile to the empty silver count
    for check in ("sum_message_count_matches_silver", "sum_source_row_count_matches_silver"):
        assert (report[check]["observed"], report[check]["expected"]) == (0, 0)
        assert report[check]["passed"]

    silver = str(tmp_path / "silver")
    write_silver(to_silver(both), silver)
    gold = str(tmp_path / "gold_cli")
    assert main([
        "refresh", "--silver", silver, "--output", gold, "--days", "2025-01-02",
    ]) == 0
    days = spark.read.parquet(f"{gold}/uid_hourly_h3").select("dt").distinct()
    assert [str(r["dt"]) for r in days.collect()] == ["2025-01-02"]


def _files_scanned(df) -> int:
    """Files the scans of ``df``'s last execution read (their ``numFiles``
    metric), looking through AQE's query stages."""

    def walk(node) -> int:
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return walk(node.executedPlan())
        if "QueryStage" in name:
            return walk(node.plan())
        metrics = node.metrics()
        n = metrics.apply("numFiles").value() if metrics.contains("numFiles") else 0
        children = node.children().iterator()
        while children.hasNext():
            n += walk(children.next())
        return n

    return walk(df._jdf.queryExecution().executedPlan())


def test_export_tracks_prunes_silver_days(spark, tmp_path):
    """On a silver root, a time window also bounds the day partitions: a
    one-day window over three days scans a third of the files, and the
    rows match the unpruned export, also for bounds whose UTC day differs
    from their local date."""
    from knot_another_pipeline_spark.operators.tracks import export_tracks
    from knot_another_pipeline_spark.sources.ingest import (
        read_silver, to_silver, write_silver,
    )

    raw = None
    for day in ("2025-01-01", "2025-01-02", "2025-01-03"):
        part = _mini_silver(spark, day).union(spark.createDataFrame(
            [("A", f"{day} 23:59:59", 12.0, 22.0, 5.0),
             ("B", f"{day} 00:00:00", 12.0, 22.0, 5.0)],
            "mmsi string, base_date_time string, latitude double, "
            "longitude double, sog double",
        ))
        raw = part if raw is None else raw.union(part)
    root = str(tmp_path / "silver")
    write_silver(to_silver(raw).coalesce(1), root)
    silver = read_silver(spark, root)
    cols = dict(uid_col="mmsi", ts_col="event_ts", lat_col="lat", lon_col="lon",
                uids=["A", "B"])

    def export(frame, start, stop):
        return export_tracks(frame, start=start, stop=stop, **cols)

    unpruned = silver.drop("year", "month", "day")
    window = ("2025-01-02 00:00:00", "2025-01-02 23:59:59")
    day = export(silver, *window)
    want = export(unpruned, *window)
    assert day.collect() == want.collect() and len(want.collect()) == 6
    assert _files_scanned(day) * 3 == _files_scanned(want) == len(silver.inputFiles())
    # 2025-01-02T22:00-05:00 is 2025-01-03 03:00 UTC: day 3's early rows
    for start, stop in (("2025-01-01T23:30:00-01:00", "2025-01-02T22:00:00-05:00"),
                        ("2025-01-01 23:59:59", "2025-01-03 00:00:00")):
        want = export(unpruned, start, stop).collect()
        assert export(silver, start, stop).collect() == want
        assert {r["event_ts"].day for r in want} >= {2, 3}


def test_backfill_track_ids(spark):
    """P20: missing ids (null or pandas' stringified nan/None/NaT) get
    unique track_ placeholders; real ids pass through untouched."""
    from knot_another_pipeline_spark.operators.tracks import backfill_track_ids

    df = spark.createDataFrame(
        [("A", 1), (None, 2), ("nan", 3), ("None", 4), ("NaT", 5), ("B", 6)],
        "track_id string, v int",
    )
    out = {r["v"]: r["track_id"] for r in backfill_track_ids(df).collect()}
    assert out[1] == "A" and out[6] == "B"
    synthesized = [out[v] for v in (2, 3, 4, 5)]
    assert all(t.startswith("track_") for t in synthesized)
    assert len(set(synthesized)) == 4  # unique placeholders


def test_silver_schema_drift_merge(spark, tmp_path):
    """Two silver generations with drifted columns: read_silver must see
    the union (reference parity: Glue CombineCompatibleSchemas,
    infra/terraform/ais_glue_catalog/main.tf:120 — NOAA schema varies by
    file generation, docs/data_contracts.md:31)."""
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold
    from knot_another_pipeline_spark.sources.ingest import (
        read_silver,
        to_silver,
        write_silver,
    )

    root = str(tmp_path / "silver")
    gen1 = spark.createDataFrame(
        [("111", "2025-01-01 00:10:00", 10.0, 20.0, 5.0),
         ("222", "2025-01-01 00:20:00", 10.0, 20.0, 6.0)],
        "MMSI string, BaseDateTime string, LAT double, LON double, SOG double",
    )
    write_silver(to_silver(gen1), root)
    # later generation adds a Heading column (different day → new partitions)
    gen2 = spark.createDataFrame(
        [("111", "2025-01-02 00:10:00", 11.0, 21.0, 5.0, 180.0),
         ("222", "2025-01-02 00:20:00", 11.0, 21.0, 6.0, 90.0)],
        "MMSI string, BaseDateTime string, LAT double, LON double, SOG double,"
        " Heading double",
    )
    write_silver(to_silver(gen2), root)

    merged = read_silver(spark, root)
    assert "heading" in merged.columns  # drifted column visible...
    by_day = {
        (r["day"], r["mmsi"]): r["heading"]
        for r in merged.select("day", "mmsi", "heading").collect()
    }
    assert by_day[(2, "111")] == 180.0
    assert by_day[(1, "111")] is None  # ...NULL for the older generation

    # refresh over the merged table covers both generations' days
    result = refresh_gold(
        spark, merged, run_checks=False,
        ts_col="event_ts", lat_col="lat", lon_col="lon",
    )
    days = {str(r["dt"]) for r in result.hourly.select("dt").distinct().collect()}
    assert days == {"2025-01-01", "2025-01-02"}


def test_cli_end_to_end(spark, tmp_path):
    """ingest → refresh → export-tracks through the CLI entry point
    (in-process; the session is reused via getOrCreate)."""
    from knot_another_pipeline_spark.__main__ import main

    csv = tmp_path / "day.csv"
    csv.write_text(
        "MMSI,BaseDateTime,LAT,LON,SOG\n"
        "111000111,2025-01-01 00:10:00,10.0,20.0,5.0\n"
        "111000111,2025-01-01 00:40:00,10.1,20.1,5.0\n"
        "222000222,2025-01-01 00:20:00,10.0,20.0,6.0\n"
    )
    silver = tmp_path / "silver"
    gold = tmp_path / "gold"
    out_csv = tmp_path / "tracks.csv"

    assert main(["ingest", "--input", str(csv), "--output", str(silver)]) == 0
    assert main([
        "refresh", "--silver", str(silver), "--output", str(gold),
        "--min-shared-cells", "0",
    ]) == 0
    assert (gold / "uid_hourly_h3").exists()
    assert (gold / "pairs_daily").exists()
    assert main([
        "export-tracks", "--silver", str(silver),
        "--uids", "111000111", "--output", str(out_csv),
    ]) == 0
    content = out_csv.read_text()
    assert content.count("111000111") == 2
    assert "222000222" not in content


def _noaa_day(day: int, *, iso=False, heading="90", junk=None) -> list[list[str]]:
    """Four NOAA-shaped rows of one day: two co-moving vessels, two hours.
    ``junk = (row, field, value)`` overwrites one field."""
    sep = "T" if iso else " "
    rows = [
        [uid, f"2025-01-0{day}{sep}0{h}:{m}:00", f"{10.0 + h}", f"{20.0 + h}",
         "5.0", "45.0", heading]
        for h in (0, 1)
        for uid, m in (("111000111", 10), ("222000222", 20))
    ]
    if junk:
        row, field, value = junk
        rows[row][field] = value
    return rows


def _noaa_csv(rows, header="MMSI,BaseDateTime,LAT,LON,SOG,COG,Heading") -> bytes:
    return "\n".join([header] + [",".join(r) for r in rows]).encode() + b"\n"


def _write_day(path, body: bytes) -> None:
    """Write a day as NOAA ships it: ``.csv.zst`` (a zstd frame, the way
    ``perfbench/gen.py`` writes it), ``.zip`` or plain ``.csv``."""
    import io
    import zipfile

    import pyarrow as pa

    if path.name.endswith(".zst"):
        body = pa.compress(body, codec="zstd", asbytes=True)
    elif path.suffix == ".zip":
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr(path.stem + ".csv", body)
        body = buf.getvalue()
    path.write_bytes(body)


_MIXED_SILVER = {
    # (file name, CSV body) per day; rows kept; 111000111's rows kept
    "zst_and_zip": (
        [("d1.csv.zst", _noaa_csv(_noaa_day(1))),
         ("d2.zip", _noaa_csv(_noaa_day(2), "Mmsi,BASEDATETIME,Lat,Lon,Sog,Cog,Heading"))],
        8, 4,
    ),
    "inference_divergent_csv": (
        [("d1.csv", _noaa_csv(_noaa_day(1, iso=True))),
         ("d2.csv", _noaa_csv(
             _noaa_day(2, heading="90.5", junk=(1, 1, "not-a-date"))))],
        7, 4,
    ),
    # LAT=abc on 111000111's second message
    "junk_lat": ([("d1.csv", _noaa_csv(_noaa_day(1, junk=(2, 2, "abc"))))], 3, 1),
}


@pytest.mark.parametrize("case", sorted(_MIXED_SILVER))
def test_cli_end_to_end_mixed_silver(spark, tmp_path, case):
    """ingest → refresh → export-tracks over one silver root whose days
    differ in archive format, in the values type inference would see, or
    hold a non-numeric coordinate: every silver file carries the declared
    types, so the root reads back, junk is coerced to NULL and dropped,
    and DQ passes."""
    import glob

    import pyarrow.parquet as pq

    from knot_another_pipeline_spark.__main__ import main
    from knot_another_pipeline_spark.schema import SILVER_COLUMNS

    days, kept, kept_111 = _MIXED_SILVER[case]
    silver = tmp_path / "silver"
    gold = tmp_path / "gold"
    out_csv = tmp_path / "tracks.csv"
    for name, body in days:
        _write_day(tmp_path / name, body)
        assert main(["ingest", "--input", str(tmp_path / name),
                     "--output", str(silver)]) == 0

    declared = {name: dtype.simpleString() for name, dtype, _ in SILVER_COLUMNS}
    files = glob.glob(f"{silver}/**/*.parquet", recursive=True)
    assert files
    for f in files:
        schema = pq.read_schema(f)
        assert {n: str(schema.field(n).type) for n in declared} == declared, f

    assert main(["refresh", "--silver", str(silver), "--output", str(gold),
                 "--min-shared-cells", "0"]) == 0
    hourly = spark.read.parquet(str(gold / "uid_hourly_h3"))
    assert hourly.agg(F.sum("message_count")).first()[0] == kept
    assert main(["export-tracks", "--silver", str(silver),
                 "--uids", "111000111", "--output", str(out_csv)]) == 0
    assert out_csv.read_text().count("111000111") == kept_111


def test_cli_ingest_reads_csv_without_inference_scan(spark, tmp_path):
    """A plain-CSV ingest runs two jobs, the header read and the silver
    write: no schema-inference job scans the input a second time."""
    from knot_another_pipeline_spark.__main__ import main

    csv = tmp_path / "day.csv"
    _write_day(csv, _noaa_csv(_noaa_day(1)))
    sc = spark.sparkContext
    sc.setJobGroup("cli-ingest-csv", "cli ingest of one plain CSV")
    try:
        assert main(["ingest", "--input", str(csv),
                     "--output", str(tmp_path / "silver")]) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("cli-ingest-csv")) == 2


def test_refresh_gold_catalog_tables(spark, tmp_path):
    """catalog_tables=True writes the reference's bucketed layouts; the
    hourly table then self-joins on mmsi without a shuffle."""
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold
    from knot_another_pipeline_spark.sources.warehouse import drop_table

    result = refresh_gold(
        spark, _ais_fixture(spark),
        output_root=str(tmp_path / "gold"),
        run_checks=False, min_shared_cells=0, catalog_tables=True,
    )
    assert set(result.written) == {"uid_hourly_h3", "pairs_daily", "pairs_total"}
    hourly = spark.table("uid_hourly_h3")
    assert hourly.count() == result.hourly.count()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = hourly.alias("a").join(spark.table("uid_hourly_h3").alias("b"), "mmsi")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert spark.table("pairs_daily").count() == result.pairs.count()
    assert spark.table("pairs_total").count() == result.totals.count()
    for t in ("uid_hourly_h3", "pairs_daily", "pairs_total"):
        drop_table(spark, t)


def test_refresh_gold_catalog_mode_dq_end_to_end(spark, tmp_path):
    """Full catalog-mode refresh (saveAsTable + bucketing) with DQ checks
    on, then the same reconciliation re-run against spark.table(...) —
    guards the saveAsTable/path divergence the append fix touched."""
    from knot_another_pipeline_spark.operators.quality import (
        reconciliation_report,
    )
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold
    from knot_another_pipeline_spark.sources.warehouse import drop_table

    try:
        result = refresh_gold(
            spark, _ais_fixture(spark),
            output_root=str(tmp_path / "gold_dq"),
            run_checks=True, catalog_tables=True,
        )
        inline = {r["check_name"]: r for r in result.report.collect()}
        assert all(r["passed"] for r in inline.values())
        silver_count = inline["sum_message_count_matches_silver"]["expected"]
        rerun = reconciliation_report(
            spark,
            silver_filtered_count=silver_count,
            hourly=spark.table("uid_hourly_h3"),
            pairs=spark.table("pairs_daily"),
        )
        for r in rerun.collect():
            assert r["passed"], (r["check_name"], r["observed"], r["expected"])
    finally:
        for t in ("uid_hourly_h3", "pairs_daily", "pairs_total"):
            drop_table(spark, t)


def test_refresh_gold_catalog_files_per_bucket(spark, tmp_path):
    """In catalog mode each pairs_daily day holds one file per bucket its
    rows hash to (so never more than the 32 buckets), and the bucketed
    table still joins with itself on (uid_a, uid_b) without a shuffle."""
    from knot_another_pipeline_spark.plans.gold_refresh import refresh_gold
    from knot_another_pipeline_spark.sources.warehouse import drop_table

    gold = str(tmp_path / "gold")
    try:
        result = refresh_gold(
            spark,
            _port_silver(spark, "2025-01-01").union(
                _port_silver(spark, "2025-01-02")
            ),
            output_root=gold, run_checks=False, catalog_tables=True,
        )
        buckets = {
            (r["day_date"].day, r["b"])
            for r in result.pairs.select(
                "day_date",
                F.pmod(F.hash("uid_a", "uid_b"), F.lit(32)).alias("b"),
            ).collect()
        }
        want = {
            f"year=2025/month=1/day={d}": sum(k[0] == d for k in buckets)
            for d in (1, 2)
        }
        got = _files_per_partition(f"{gold}/pairs_daily")
        assert got == want and max(got.values()) <= 32
        daily = spark.table("pairs_daily")
        assert _rows(daily, result.pairs.columns) == _rows(
            result.pairs, result.pairs.columns
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            j = daily.alias("a").join(
                spark.table("pairs_daily").alias("b"), ["uid_a", "uid_b"]
            )
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in ("uid_hourly_h3", "pairs_daily", "pairs_total"):
            drop_table(spark, t)


def test_sessionize_accepts_ntz_timestamps(spark):
    """Parquet written without a timezone arrives as TIMESTAMP_NTZ, which
    unix_micros rejects; sessionize must cast before differencing
    (advice r3). Gap math is identical since the offset cancels."""
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.operators.relational import sessionize

    events = spark.createDataFrame(
        [
            (1, "2025-01-01 00:00:00"),
            (1, "2025-01-01 00:10:00"),   # same session (gap 10m < 30m)
            (1, "2025-01-01 01:00:00"),   # new session (gap 50m)
            (2, "2025-01-01 00:00:00"),
        ],
        "uid long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    out = sessionize(events, uid_col="uid", ts_col="ts", gap_minutes=30)
    per_uid = {
        r["uid"]: r["n_sessions"]
        for r in out.groupBy("uid")
        .agg(F.countDistinct("session_id").alias("n_sessions"))
        .collect()
    }
    assert per_uid == {1: 2, 2: 1}


def test_cli_maintain_compact_and_profile(spark, tmp_path, capsys):
    """maintain subcommand: compaction rewrites to target-size files and
    reports the count; --profile prints per-column stats."""
    from knot_another_pipeline_spark.__main__ import main

    path = str(tmp_path / "tbl")
    df = spark.range(0, 2000).withColumn("v", F.col("id") % 7)
    for i in range(4):
        df.filter(F.col("id") % 4 == i).repartition(3).write.mode(
            "append"
        ).parquet(path)

    assert main(["maintain", "--path", path]) == 0
    out = capsys.readouterr().out
    assert "-> 1 files" in out
    assert spark.read.parquet(path).count() == 2000

    assert main(["maintain", "--path", path, "--profile"]) == 0
    out = capsys.readouterr().out
    assert "id: rows=2000 nulls=0 distinct=2000" in out
    assert "v: rows=2000" in out


def test_scan_pushdown_and_column_pruning(spark, sf_dir=None):
    """Regression guard for the scan contract: time-sliced event loads
    push their bounds into the parquet scan (row-group pruning), and a
    narrow projection prunes ReadSchema to exactly the referenced
    columns — a scan reading all columns for a 2-column query is a plan
    regression."""
    import re

    from knot_another_pipeline_spark.sources.tables import (
        load_events_time_sliced,
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    sliced = load_events_time_sliced(spark, sf, "2024-01-02", "2024-01-03")
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "ts" in pushed[0]  # time bounds reached the scan
    assert "GreaterThanOrEqual" in pushed[0] or ">=" in pushed[0]

    proj = (
        load_table(spark, sf, "documents")
        .select("doc_id", "n_chars")
        .filter(F.col("n_chars") > 100)
    )
    p2 = proj._jdf.queryExecution().executedPlan().toString()
    schema = re.findall(r"ReadSchema: (struct<[^\n]*>)", p2)
    assert schema and schema[0] == "struct<doc_id:bigint,n_chars:bigint>"
    pushed2 = re.findall(r"PushedFilters: \[([^\]]*)\]", p2)
    assert pushed2 and "GreaterThan(n_chars,100)" in pushed2[0]


def test_cli_prep_corpus_jsonl_output(spark, tmp_path, capsys):
    """--format jsonl writes gzip'd one-object-per-line shards (the
    training-data interchange shape) with the same rows as parquet."""
    import json

    from knot_another_pipeline_spark.__main__ import main

    src = tmp_path / "corpus.jsonl"
    lines = [
        json.dumps(
            {"id": i, "text": ("useful words in a sentence " * 20) + str(i)}
        )
        for i in range(40)
    ]
    src.write_text("\n".join(lines))
    out = str(tmp_path / "prepped")
    rc = main([
        "prep-corpus", "--input", str(src), "--output", out,
        "--min-tokens", "10", "--tokens-per-shard", "1000",
        "--format", "jsonl",
    ])
    assert rc == 0
    got = spark.read.json(out)
    assert got.count() == 40
    assert {"doc_id", "text", "n_tokens", "shard"} <= set(got.columns)
    import glob
    assert glob.glob(f"{out}/split=*/*.json.gz")  # gzip'd jsonl shards


def test_pair_join_parallelism_pinned_by_default(spark):
    """Scale-safety plan assertion (round 5): the self-join EXPANDS, so
    its parallelism must come from the session's shuffle-partition
    setting, not AQE's input-byte coalescing (which serialized a 300×
    expansion down to 3 tasks — 9.3 s → 2.5 s at sf0.1 when pinned).
    The pinned JOIN repartition shows up as a REPARTITION_BY_NUM
    exchange and must toggle with the flag.  Since round 9 the pair
    AGGREGATION carries its own unconditional REPARTITION_BY_NUM on
    (pair, period) — the one-exchange Complete-mode plan that replaced
    the spilling map-side partials — so the flag moves the count
    between 2 and 1, never to 0."""
    from pyspark.sql import functions as F

    from knot_another_pipeline_spark.operators.pairs import co_movement_pairs

    roll = spark.createDataFrame(
        [("u1", "2025-01-01 00:00:00", "A"), ("u2", "2025-01-01 00:00:00", "A")],
        "uid string, window_ts string, cell string",
    ).withColumn("window_ts", F.to_timestamp("window_ts"))

    pinned = co_movement_pairs(roll)._jdf.queryExecution().executedPlan().toString()
    free = (
        co_movement_pairs(roll, pin_join_parallelism=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the free plan keeps exactly the aggregation exchange; the pinned
    # plan adds the join repartition (printed once per join side in the
    # initial-plan tree, so compare presence, not an exact count)
    assert free.count("REPARTITION_BY_NUM") == 1
    assert pinned.count("REPARTITION_BY_NUM") > free.count(
        "REPARTITION_BY_NUM"
    )
