"""Round-8 fixes and operators.

Covers the round-7 verdict/advice items that are testable in-repo:
- the ``bradley_terry`` iterate is round-pinned, so plan depth (and
  analysis cost) stays constant in ``iterations`` (VERDICT r7 task #4);
- ``connected_components``' parquet round scratch: a caller-provided
  scratch works on any master; without one, the scratch defaults to a
  directory under the SparkContext's checkpoint directory (so
  ``canonical_docs`` runs on a cluster master), then to a driver temp
  dir on a local master only, and is otherwise refused instead of
  silently losing executor writes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _plan_len(df) -> int:
    spark = df.sparkSession
    return len(
        df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    )


def test_bradley_terry_plan_depth_flat_in_iterations(spark):
    from knot_another_pipeline_spark.operators.evaluation import bradley_terry

    matches = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("b", "a")] * 3,
        "winner string, loser string",
    )

    def plan_len(iterations: int) -> int:
        return _plan_len(
            bradley_terry(
                matches,
                winner_col="winner",
                loser_col="loser",
                iterations=iterations,
            )
        )

    l2, l20 = plan_len(2), plan_len(20)
    # the round pin cuts each MM round's plan at a checkpoint scan, so
    # 10x the iterations must not grow the final plan (tolerance for
    # RDD-id digits only)
    assert l20 <= l2 * 1.2, (l2, l20)


def test_bradley_terry_values_stable_under_pin(spark):
    """Pinning must not change the numbers: 20 pinned rounds converge
    to the analytic 2-item solution."""
    from knot_another_pipeline_spark.operators.evaluation import bradley_terry

    matches = spark.createDataFrame(
        [("a", "b")] * 3 + [("b", "a")], "winner string, loser string"
    )
    rows = {
        r["item"]: r
        for r in bradley_terry(
            matches, winner_col="winner", loser_col="loser", iterations=20
        ).collect()
    }
    # MLE for 2 items: s_a/s_b = wins_a/wins_b = 3, mean pinned to 1.
    assert rows["a"]["n_wins"] == 3 and rows["b"]["n_wins"] == 1
    assert rows["a"]["strength"] == pytest.approx(1.5, abs=1e-4)
    assert rows["b"]["strength"] == pytest.approx(0.5, abs=1e-4)


def test_components_default_scratch_requires_local_master(
    spark, monkeypatch, tmp_path
):
    from knot_another_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    real_get = type(spark.conf).get

    def fake_get(self, key, *args, **kwargs):
        if key == "spark.master":
            return "spark://imaginary-cluster:7077"
        return real_get(self, key, *args, **kwargs)

    monkeypatch.setattr(type(spark.conf), "get", fake_get)
    with pytest.raises(ValueError, match="scratch_dir"):
        dedup.connected_components(pairs)
    # a caller-provided shared-path scratch is accepted on any master,
    # and the result reads back from the caller's parquet slot
    out = dedup.connected_components(
        pairs, scratch_dir=str(tmp_path / "cc_scratch")
    )
    got = {(r["id"], r["component"]) for r in out.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}


def test_components_caller_scratch_returns_parquet_scan(spark, tmp_path):
    """With a durable caller scratch the final frame must be a plain
    file scan (recoverable after executor loss), not a block-storage
    checkpoint of it."""
    from knot_another_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    scratch = tmp_path / "cc_scratch"
    out = dedup.connected_components(pairs, scratch_dir=str(scratch))
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "FileScan parquet" in plan, plan
    # the scan reads the caller's scratch slot (the plan string
    # truncates long paths, so check the actual input files)
    assert any("cc_scratch" in f for f in out.inputFiles())


def test_canonical_docs_scratch_under_checkpoint_dir_on_cluster_master(
    spark, monkeypatch, tmp_path
):
    """On a non-local master with a checkpoint directory set,
    ``canonical_docs`` takes its components scratch under that directory,
    returns exact clusters and representatives, and leaves no scratch
    behind. An unrelated cached frame stays cached across the call."""
    from pyspark import SparkContext

    from knot_another_pipeline_spark.operators import dedup

    bystander = spark.createDataFrame([(1,)], "x long").cache()
    bystander.count()
    corpus = spark.createDataFrame(
        [(1, "aa"), (2, "aaaa"), (3, "aaa"), (4, "b"), (5, "cc"),
         (6, "cc")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (3, 2), (5, 6)], "id_a long, id_b long"
    )
    checkpoints = tmp_path / "checkpoints"
    real_get = type(spark.conf).get

    def fake_get(self, key, *args, **kwargs):
        if key == "spark.master":
            return "spark://imaginary-cluster:7077"
        return real_get(self, key, *args, **kwargs)

    # patched, not set: a real setCheckpointDir cannot be undone and
    # would change every later test's default scratch
    monkeypatch.setattr(type(spark.conf), "get", fake_get)
    monkeypatch.setattr(
        SparkContext, "getCheckpointDir", lambda self: str(checkpoints)
    )
    try:
        got = {
            r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["rep_id"],
                          r["is_rep"])
            for r in dedup.canonical_docs(corpus, pairs).collect()
        }
        assert got == {
            1: (1, 3, 2, False), 2: (1, 3, 2, True), 3: (1, 3, 2, False),
            4: (4, 1, 4, True),
            5: (5, 2, 5, True), 6: (5, 2, 5, False),
        }
        # the rounds wrote under the checkpoint dir, and nothing is left
        assert checkpoints.is_dir() and list(checkpoints.iterdir()) == []
        assert bystander.count() == 1
        assert bystander.storageLevel.useMemory
    finally:
        bystander.unpersist()


def test_streaming_fairness_monitor_late_and_too_late_replay(
    spark, tmp_path
):
    """Out-of-order replay across micro-batches (VERDICT r7 task #6 —
    the late-data case the other monitors pin): rows for an OPEN window
    arriving in a later micro-batch (older than rows already seen) are
    aggregated; rows for a window the watermark already CLOSED are
    dropped; the final append output equals the batch group_fairness
    ingredients over exactly the accepted rows."""
    import os
    import time

    from knot_another_pipeline_spark.operators.evaluation import (
        group_fairness,
    )
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_fairness_monitor,
    )

    schema = "g string, s double, y int, ts string"
    src = tmp_path / "fair_replay_in"

    def write_epoch(rows, mtime):
        df = spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )
        before = {
            f for f in os.listdir(src) if f.endswith(".parquet")
        } if src.exists() else set()
        df.coalesce(1).write.mode("append").parquet(str(src))
        new = [
            f
            for f in os.listdir(src)
            if f.endswith(".parquet") and f not in before
        ]
        for f in new:  # pin mtime so maxFilesPerTrigger replays in order
            os.utime(src / f, (mtime, mtime))
        return df

    # epoch 1: window 00:00 partial (group a) + in-window pusher (00:40)
    write_epoch(
        [
            ("a", 0.9, 1, "2025-01-01 00:05:00"),
            ("a", 0.1, 1, "2025-01-01 00:40:00"),
        ],
        time.time() - 300,
    )
    # epoch 2: LATE but in-watermark rows for the still-open 00:00
    # window (older than everything in epoch 1's tail), plus a pusher
    # that advances the watermark past that window's end
    write_epoch(
        [
            ("a", 0.8, 0, "2025-01-01 00:02:00"),
            ("b", 0.7, 0, "2025-01-01 00:03:00"),
            ("z", 0.5, 1, "2025-01-02 00:00:00"),
        ],
        time.time() - 250,
    )
    # epoch 3: buffer batch — this is the batch that EMITS and evicts
    # the 00:00 windows (the watermark passed their end at its start)
    write_epoch(
        [("z", 0.5, 1, "2025-01-02 12:00:00")],
        time.time() - 200,
    )
    # epoch 4: TOO LATE — the 00:00 window was emitted and evicted in
    # epoch 3, so this row must be dropped, never re-emitted; final
    # pusher flushes remaining state
    write_epoch(
        [
            ("a", 0.95, 0, "2025-01-01 00:50:00"),
            ("z", 0.5, 1, "2025-01-03 00:00:00"),
        ],
        time.time() - 100,
    )

    stream = (
        spark.readStream.schema(
            "g string, s double, y int, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
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
        .queryName("fair_replay_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(240)
    got = {
        (r["group"], str(r["window_ts"])): (
            r["n"], r["base_rate"], r["pos_rate"], r["tpr"], r["fpr"]
        )
        for r in spark.sql(
            "SELECT * FROM fair_replay_test WHERE group != 'z'"
        ).collect()
    }
    # batch reference over the ACCEPTED rows only: the epoch-4 00:50 row
    # is excluded — its window had already been emitted and evicted
    accepted = spark.createDataFrame(
        [
            ("a", 0.9, 1, "2025-01-01 00:05:00"),
            ("a", 0.1, 1, "2025-01-01 00:40:00"),
            ("a", 0.8, 0, "2025-01-01 00:02:00"),
            ("b", 0.7, 0, "2025-01-01 00:03:00"),
        ],
        schema,
    ).withColumn("ts", F.to_timestamp("ts"))
    want = {
        (r["group"], "2025-01-01 00:00:00"): (
            r["n"], r["base_rate"], r["pos_rate"], r["tpr"], r["fpr"]
        )
        for r in group_fairness(
            accepted, group_col="g", score_col="s", label_col="y",
            threshold=0.5,
        ).collect()
    }
    assert got == want
    # the late group-b row arrived ONLY in epoch 2 and still made it in
    assert ("b", "2025-01-01 00:00:00") in got
    # the too-late epoch-4 row neither changed group a's count nor
    # produced a duplicate emission of the closed window
    assert got[("a", "2025-01-01 00:00:00")][0] == 3


# ---------------------------------------------------------------------------
# round-8 operators: TPC-H-derived plan shapes


def test_order_priority_counts_semi_join_dedups(spark):
    """An order with several late lines counts once; on-time-only
    orders don't count at all."""
    from knot_another_pipeline_spark.operators.relational import (
        order_priority_counts,
    )

    orders = spark.createDataFrame(
        [
            (1, "1-URGENT", "2024-01-01 00:00:00"),
            (2, "1-URGENT", "2024-01-01 00:00:00"),
            (3, "5-LOW", "2024-01-01 00:00:00"),
        ],
        "o_orderkey long, o_orderpriority string, o_orderdate string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    lineitem = spark.createDataFrame(
        [
            (1, "2024-06-01 00:00:00"),  # late (>90d)
            (1, "2024-07-01 00:00:00"),  # late again — still ONE order
            (2, "2024-01-15 00:00:00"),  # on time
            (3, "2024-12-31 00:00:00"),  # late
        ],
        "l_orderkey long, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    got = {
        (r["o_orderpriority"], r["n_late_orders"])
        for r in order_priority_counts(
            orders, lineitem, late_days=90
        ).collect()
    }
    assert got == {("1-URGENT", 1), ("5-LOW", 1)}


def test_customer_order_distribution_keeps_zero_bucket(spark):
    from knot_another_pipeline_spark.operators.relational import (
        customer_order_distribution,
    )

    customer = spark.createDataFrame(
        [(1,), (2,), (3,)], "c_custkey long"
    )
    orders = spark.createDataFrame(
        [(10, 1), (11, 1), (12, 2)], "o_orderkey long, o_custkey long"
    )
    got = {
        (r["c_count"], r["custdist"])
        for r in customer_order_distribution(customer, orders).collect()
    }
    assert got == {(2, 1), (1, 1), (0, 1)}


def test_waiting_suppliers_only_sole_late_multi_supplier(spark):
    """Order 1: two suppliers, only supplier 7 late -> 7 qualifies.
    Order 2: both suppliers late -> nobody. Order 3: single-supplier
    late -> nobody (no co-supplier)."""
    from knot_another_pipeline_spark.operators.relational import (
        waiting_suppliers,
    )

    supplier = spark.createDataFrame(
        [(7, "Supplier#7"), (8, "Supplier#8")],
        "s_suppkey long, s_name string",
    )
    orders = spark.createDataFrame(
        [
            (1, "F", "2024-01-01 00:00:00"),
            (2, "F", "2024-01-01 00:00:00"),
            (3, "F", "2024-01-01 00:00:00"),
        ],
        "o_orderkey long, o_orderstatus string, o_orderdate string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    late, ontime = "2025-06-01 00:00:00", "2024-01-10 00:00:00"
    lineitem = spark.createDataFrame(
        [
            (1, 7, late),
            (1, 8, ontime),
            (2, 7, late),
            (2, 8, late),
            (3, 7, late),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate string",
    ).withColumn("l_shipdate", F.to_timestamp("l_shipdate"))
    got = [
        (r["s_name"], r["numwait"])
        for r in waiting_suppliers(
            supplier, orders, lineitem, late_days=365
        ).collect()
    ]
    assert got == [("Supplier#7", 1)]


def test_idle_customers_scalar_and_anti_join(spark):
    from knot_another_pipeline_spark.operators.relational import (
        idle_customers,
    )

    customer = spark.createDataFrame(
        [
            (1, 0, 100.0),   # above avg(pos)=55, no recent order -> kept
            (2, 0, 10.0),    # below avg -> dropped
            (3, 1, 100.0),   # above avg but ordered recently -> dropped
            (4, 1, -50.0),   # negative, excluded from avg AND below it
        ],
        "c_custkey long, c_nationkey int, c_acctbal double",
    )
    orders = spark.createDataFrame(
        [(10, 3, "2002-05-01 00:00:00"), (11, 1, "1999-01-01 00:00:00")],
        "o_orderkey long, o_custkey long, o_orderdate string",
    ).withColumn("o_orderdate", F.to_timestamp("o_orderdate"))
    got = [
        (r["c_nationkey"], r["numcust"], r["totacctbal"])
        for r in idle_customers(
            customer, orders, since="2001-01-01"
        ).collect()
    ]
    assert got == [(0, 1, 100.0)]


def test_disjunctive_revenue_branch_semantics(spark):
    """Each line must satisfy its OWN branch's quantity range — a
    Brand#12 line with Brand#21's quantity doesn't count."""
    from knot_another_pipeline_spark.operators.relational import (
        disjunctive_revenue,
    )

    part = spark.createDataFrame(
        [(1, "Brand#12", 3), (2, "Brand#21", 7), (3, "Brand#99", 3)],
        "p_partkey long, p_brand string, p_size int",
    )
    lineitem = spark.createDataFrame(
        [
            (1, 5.0, 100.0, 0.0),    # Brand#12, qty 5 in [1,11] -> in
            (1, 15.0, 100.0, 0.0),   # Brand#12, qty 15 out of range
            (2, 15.0, 200.0, 0.5),   # Brand#21, qty 15 in [10,20] -> in
            (3, 5.0, 999.0, 0.0),    # brand not in any branch
        ],
        "l_partkey long, l_quantity double, l_extendedprice double,"
        " l_discount double",
    )
    row = disjunctive_revenue(lineitem, part).collect()[0]
    assert row["n_lines"] == 2
    assert row["revenue"] == pytest.approx(100.0 + 200.0 * 0.5)


# ---------------------------------------------------------------------------
# round-8 operators: tests, validity, trajectory readouts


def test_mann_whitney_matches_bruteforce(spark):
    """U and tie-corrected z equal the O(n^2) pair-count definition on
    a tie-heavy sample."""
    import math

    from knot_another_pipeline_spark.operators.quality import mann_whitney

    vals1 = [1.0, 2.0, 2.0, 5.0, 7.0]
    vals0 = [2.0, 3.0, 3.0, 4.0]
    rows = [("g", v, 1) for v in vals1] + [("g", v, 0) for v in vals0]
    df = spark.createDataFrame(rows, "grp string, v double, y int")
    r = mann_whitney(
        df, group_cols=["grp"], value_col="v", class_col="y"
    ).collect()[0]
    u_brute = sum(
        1.0 if a > b else 0.5 if a == b else 0.0
        for a in vals1
        for b in vals0
    )
    assert r["u"] == pytest.approx(u_brute)
    n1, n0 = len(vals1), len(vals0)
    n = n1 + n0
    from collections import Counter

    tie3 = sum(t**3 - t for t in Counter(vals1 + vals0).values())
    var_u = n1 * n0 / 12.0 * ((n + 1) - tie3 / (n * (n - 1)))
    z_brute = (u_brute - n1 * n0 / 2.0) / math.sqrt(var_u)
    assert r["z"] == pytest.approx(z_brute, abs=1e-6)


def test_kendall_tau_known_values(spark):
    """Perfect agreement -> +1; perfect reversal -> -1; and a tie-b
    case checked against the closed-form pair counts."""
    from knot_another_pipeline_spark.operators.quality import kendall_tau

    rows = (
        [("up", float(i), float(i * 2)) for i in range(6)]
        + [("down", float(i), float(-i)) for i in range(6)]
        + [("tied", 1.0, 1.0), ("tied", 1.0, 2.0), ("tied", 2.0, 3.0)]
    )
    df = spark.createDataFrame(rows, "grp string, x double, y double")
    got = {
        r["grp"]: (r["n"], r["tau"])
        for r in kendall_tau(
            df, group_cols=["grp"], x_col="x", y_col="y"
        ).collect()
    }
    assert got["up"] == (6, 1.0)
    assert got["down"] == (6, -1.0)
    # tied group: pairs (1,2): dx=0 -> tx; (1,3),(2,3): concordant
    # tau_b = (2-0)/sqrt((3-1)*(3-0)) = 2/sqrt(6)
    n, tau = got["tied"]
    assert n == 3
    assert tau == pytest.approx(2 / 6**0.5, abs=1e-6)


def test_silhouette_separated_vs_mixed(spark):
    """Two well-separated clusters score near 1; shuffling the labels
    destroys the score."""
    from knot_another_pipeline_spark.operators.similarity import (
        silhouette_score,
    )

    rows = [
        (i, [0.0 + 0.01 * i, 0.0], 0) for i in range(4)
    ] + [
        (10 + i, [10.0 + 0.01 * i, 10.0], 1) for i in range(4)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    good = {
        r["label"]: r["avg_silhouette"]
        for r in silhouette_score(df).collect()
    }
    assert good[0] > 0.99 and good[1] > 0.99
    mixed = df.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    bad = {
        r["label"]: r["avg_silhouette"]
        for r in silhouette_score(mixed).collect()
    }
    assert all(v < 0.5 for v in bad.values())


def test_regression_report_bruteforce(spark):
    import math

    from knot_another_pipeline_spark.operators.evaluation import (
        regression_report,
    )

    preds = [1.0, 2.0, 3.0, 4.0]
    truths = [1.5, 2.0, 2.0, 5.0]
    df = spark.createDataFrame(
        [("g", p, t) for p, t in zip(preds, truths)],
        "grp string, p double, t double",
    )
    r = regression_report(
        df, group_cols=["grp"], pred_col="p", truth_col="t"
    ).collect()[0]
    errs = [p - t for p, t in zip(preds, truths)]
    mse = sum(e * e for e in errs) / len(errs)
    mt = sum(truths) / len(truths)
    vt = sum((t - mt) ** 2 for t in truths) / len(truths)
    assert r["rmse"] == pytest.approx(math.sqrt(mse), abs=1e-6)
    assert r["mae"] == pytest.approx(sum(abs(e) for e in errs) / 4, abs=1e-6)
    assert r["bias"] == pytest.approx(sum(errs) / 4, abs=1e-6)
    assert r["r2"] == pytest.approx(1 - mse / vt, abs=1e-6)
    assert r["mape"] == pytest.approx(
        sum(abs(e) / abs(t) for e, t in zip(errs, truths)) / 4, abs=1e-6
    )


def test_brier_decomposition_identity_and_values(spark):
    """brier == reliability - resolution + uncertainty + residual holds
    EXACTLY (the operator reports the within-bin term it would otherwise
    silently absorb), and uncertainty = obar(1-obar)."""
    from knot_another_pipeline_spark.operators.evaluation import (
        brier_decomposition,
    )

    rows = [
        (0.1, 0), (0.15, 0), (0.12, 1),
        (0.55, 1), (0.58, 0),
        (0.9, 1), (0.95, 1), (0.92, 0), (1.0, 1),
    ]
    df = spark.createDataFrame(rows, "score double, y int")
    r = brier_decomposition(df, score_col="score", label_col="y").collect()[0]
    brier = sum((p - o) ** 2 for p, o in rows) / len(rows)
    obar = sum(o for _, o in rows) / len(rows)
    assert r["n"] == len(rows)
    assert r["brier"] == pytest.approx(brier, abs=1e-6)
    assert r["uncertainty"] == pytest.approx(obar * (1 - obar), abs=1e-6)
    assert r["brier"] == pytest.approx(
        r["reliability"] - r["resolution"] + r["uncertainty"] + r["residual"],
        abs=5e-6,
    )


def test_signal_gaps_threshold_and_bounds(spark):
    from knot_another_pipeline_spark.operators.tracks import signal_gaps

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 01:00:00"),   # 1h — below threshold
            (1, "2024-01-03 01:00:00"),   # 48h gap
            (2, "2024-01-01 00:00:00"),   # single fix: no gap
        ],
        "user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = [
        (r["entity"], str(r["gap_start"]), str(r["gap_end"]), r["gap_hours"])
        for r in signal_gaps(
            df, entity_col="user_id", ts_col="ts", min_gap_hours=24.0
        ).collect()
    ]
    assert got == [
        (1, "2024-01-01 01:00:00", "2024-01-03 01:00:00", 48.0)
    ]


def test_od_matrix_first_last_per_day(spark):
    from knot_another_pipeline_spark.operators.tracks import od_matrix

    df = spark.createDataFrame(
        [
            # entity A day 1: starts in (0,0) cell, ends in (1,1) cell
            ("A", "2024-01-01 00:00:00", 5.0, 5.0, 1),
            ("A", "2024-01-01 06:00:00", 5.0, 15.0, 2),   # mid, ignored
            ("A", "2024-01-01 23:00:00", 15.0, 15.0, 3),
            # entity A day 2: stationary -> diagonal
            ("A", "2024-01-02 00:00:00", 5.0, 5.0, 4),
            # entity B day 1: same flow as A day 1
            ("B", "2024-01-01 00:00:00", 6.0, 6.0, 5),
            ("B", "2024-01-01 22:00:00", 16.0, 16.0, 6),
        ],
        "uid string, ts string, lat double, lon double, event_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        (r["origin_zone"], r["dest_zone"]): (r["n_trips"], r["n_entities"])
        for r in od_matrix(
            df,
            entity_col="uid",
            ts_col="ts",
            lat_col="lat",
            lon_col="lon",
            cell_deg=10.0,
            tiebreak_col="event_id",
        ).collect()
    }
    assert got == {("0:0", "1:1"): (2, 2), ("0:0", "0:0"): (1, 1)}


def test_track_sinuosity_straight_vs_detour(spark):
    """A straight track scores ~1.0; a there-and-back detour scores
    higher; a sub-km displacement yields NULL."""
    from knot_another_pipeline_spark.operators.tracks import track_sinuosity

    df = spark.createDataFrame(
        [
            # straight: 0 -> 1 -> 2 degrees longitude at equator
            ("straight", "2024-01-01 00:00:00", 0.0, 0.0, 1),
            ("straight", "2024-01-01 01:00:00", 0.0, 1.0, 2),
            ("straight", "2024-01-01 02:00:00", 0.0, 2.0, 3),
            # detour: 0 -> 2 -> 1: path 3 degrees, displacement 1
            ("detour", "2024-01-01 00:00:00", 0.0, 0.0, 4),
            ("detour", "2024-01-01 01:00:00", 0.0, 2.0, 5),
            ("detour", "2024-01-01 02:00:00", 0.0, 1.0, 6),
            # parked: two fixes metres apart
            ("parked", "2024-01-01 00:00:00", 0.0, 0.0, 7),
            ("parked", "2024-01-01 01:00:00", 0.0, 0.000001, 8),
        ],
        "uid string, ts string, lat double, lon double, event_id long",
    ).withColumn("ts", F.to_timestamp("ts"))
    got = {
        r["entity"]: r
        for r in track_sinuosity(
            df,
            entity_col="uid",
            ts_col="ts",
            lat_col="lat",
            lon_col="lon",
            tiebreak_col="event_id",
        ).collect()
    }
    assert got["straight"]["sinuosity"] == pytest.approx(1.0, abs=1e-3)
    assert got["detour"]["sinuosity"] == pytest.approx(3.0, abs=1e-3)
    assert got["parked"]["sinuosity"] is None
    assert got["detour"]["path_km"] == pytest.approx(
        3 * got["straight"]["direct_km"] / 2, rel=1e-3
    )


def test_kendall_tau_singleton_group_yields_null(spark):
    """A group with one row has no pairs — it must still appear, with
    NULL tau, not vanish from the readout."""
    from knot_another_pipeline_spark.operators.quality import kendall_tau

    df = spark.createDataFrame(
        [("solo", 1.0, 2.0), ("pair", 1.0, 2.0), ("pair", 2.0, 1.0)],
        "grp string, x double, y double",
    )
    got = {
        r["grp"]: (r["n"], r["tau"])
        for r in kendall_tau(
            df, group_cols=["grp"], x_col="x", y_col="y"
        ).collect()
    }
    assert got["solo"] == (1, None)
    assert got["pair"] == (2, -1.0)


def test_tpch_decorrelations_plan_shapes(spark):
    """Pin the plan CLAIMS of the round-8 relational operators, not
    just their exchange counts: Q4 plans a semi join (never a distinct
    pass), Q21's census plans NO Expand (the countDistinct shape it
    replaced), Q19 pushes the disjunct union into the part scan, and
    Q17/Q18/Q22 broadcast their decorrelated subquery sides."""
    from knot_another_pipeline_spark.catalog_queries import QUERIES

    def plan(name):
        df = QUERIES[name](spark, SF_SMOKE)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    p4 = plan("order_priority")
    assert "LeftSemi" in p4, p4
    assert "HashAggregate" in p4

    p21 = plan("waiting_suppliers")
    assert "Expand" not in p21, "countDistinct Expand crept back into Q21"
    # the decorrelation reads the fact table TWICE (census + join-back);
    # the classic EXISTS/NOT-EXISTS plan needs a third scan
    p21s = QUERIES["waiting_suppliers"](
        spark, SF_SMOKE
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    import re

    assert len(re.findall(r"FileScan parquet[^\n]*lineitem", p21s)) <= 2, p21s

    p19 = plan("disjunctive_revenue")
    assert "BroadcastHashJoin" in p19
    # the part-side disjunct union reaches the part scan as a pushed
    # filter on p_brand/p_size
    assert "p_brand" in p19.split("Scan parquet")[-1] or "PushedFilters" in p19

    for name in ("small_qty_revenue", "big_order_customers", "idle_customers"):
        p = plan(name)
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, name


def test_bench_compare_tool(tmp_path, capsys):
    """bench_compare reports shared-sum, regressions over the floor,
    new keys, and gates via --fail-over."""
    import json
    import sys

    import pytest as _pytest

    from tools import bench_compare

    old = tmp_path / "BENCH_ALL_r01.json"
    new = tmp_path / "BENCH_ALL_r02.json"
    old.write_text(json.dumps({"queries": {"a": 1.0, "b": 2.0, "gone": 1.0}}))
    new.write_text(
        json.dumps({"queries": {"a": 2.0, "b": 1.0, "fresh": 0.5}})
    )
    argv = ["bench_compare.py", str(old), str(new)]
    real = sys.argv
    try:
        sys.argv = argv
        bench_compare.main()
        out = capsys.readouterr().out
        assert "2 shared queries" in out
        assert "a: 1.0s -> 2.0s (+100%)" in out
        assert "fresh=0.5s" in out and "gone" in out
        sys.argv = argv + ["--fail-over=50"]
        with _pytest.raises(SystemExit):
            bench_compare.main()
    finally:
        sys.argv = real


def test_operator_module_all_lists_are_complete():
    """Every operators/*.py that declares __all__ must list exactly its
    public functions — the list had silently drifted four modules deep
    before round 8 pinned it."""
    import ast
    import glob
    import os

    repo = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    problems = []
    for path in sorted(
        glob.glob(
            os.path.join(
                repo, "knot_another_pipeline_spark", "operators", "*.py"
            )
        )
    ):
        tree = ast.parse(open(path).read())
        fns = {
            n.name
            for n in tree.body
            if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
        }
        declared = None
        for n in tree.body:
            if (
                isinstance(n, ast.Assign)
                and getattr(n.targets[0], "id", "") == "__all__"
            ):
                declared = {e.value for e in n.value.elts}
        if declared is None:
            continue  # module opts out of __all__ entirely — fine
        missing, ghost = sorted(fns - declared), sorted(declared - fns)
        if missing or ghost:
            problems.append((os.path.basename(path), missing, ghost))
    assert not problems, problems
