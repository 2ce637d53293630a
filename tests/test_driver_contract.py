"""Driver-contract invariants (VERDICT r6 tasks #3 and #7).

Two failure classes the driver gate has actually produced are pinned
here so they cannot recur:

1. Round 5's only red rows came from catalog queries projecting ARRAY
   columns — the driver's value canonicalizer hashes scalar cells only.
   ``test_all_outputs_scalar_only`` instantiates every catalog query at
   sf0.001 and walks its schema: any Array/Map/Struct column fails.

2. The driver's correctness window has emitted exactly the first 50
   ``queries()`` keys every round, so rotation order IS the coverage
   lever.  The driver skipped its round-9 CORRECTNESS deposit, leaving
   all 55 round-9 keys never-gated, so round 10 runs in backlog-drain
   mode: ``test_round10_window_drains_backlog`` asserts the window is
   the first 50 never-gated keys in catalog order (then new additions,
   then the staleness rotation), all in the exact order
   ``tools/queue_order.py`` computes from the git-TRACKED artifacts.
   Reading tracked artifacts only (not the working-tree glob) is
   itself the round-8 fix: the driver deposits CORRECTNESS_r{N}.json
   UNTRACKED after the final commit, and counting it made these tests
   red-by-construction at every round boundary.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest
from pyspark.sql import types as T

from knot_another_pipeline_spark.catalog_queries import ORACLES, QUERIES
from tests.conftest import SF_SMOKE
from tools import plan_shapes

with open(
    os.path.join(os.path.dirname(plan_shapes.__file__), "plan_shapes.json")
) as _fh:
    _PLAN_LEDGER = json.load(_fh)

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _entry_module():
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(_REPO, "__spark_entry__.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_COMPLEX = (T.ArrayType, T.MapType, T.StructType)


def _gated_keys() -> set[str]:
    """Keys with a row in any git-TRACKED CORRECTNESS artifact.

    Tracked-only (via tools/queue_order.py) is load-bearing: the driver
    deposits the current round's CORRECTNESS_r{N}.json untracked after
    the final commit, and globbing the working tree made this suite
    red-by-construction at every round boundary (VERDICT r8 item #1 —
    the same pathology fixed in tools/readme_stats.py in round 8).
    """
    from tools import queue_order

    return set(queue_order.latest_round())


def test_round10_window_drains_backlog():
    """Round-10 policy (backlog-drain): the driver skipped its round-9
    CORRECTNESS deposit, so all 55 round-9 keys are still never-gated.
    While the never-gated backlog exceeds the 50-key window, the
    window IS the first 50 backlog keys in catalog order; this round's
    new additions park behind the backlog (they are newer debt), then
    the staleness rotation.  The steady-state rule (<=15 new leads +
    >=35 stale re-gates, round-9 policy) resumes once the backlog fits
    the 15-key cap — the backlog-drain branch below then dissolves
    into it because backlog + new additions fill <50 slots."""
    from tools import queue_order

    mod = _entry_module()
    ordered = mod._ordered_keys()
    assert len(ordered) == len(set(ordered)), "duplicate keys in queue"
    assert set(ordered) == set(QUERIES), "queue does not cover the catalog"
    gated = _gated_keys()
    # queue_order.backlog() = every never-gated key in catalog order;
    # _BACKLOG is the prior-round portion (this round's additions are
    # never-gated too but belong to _NEW_KEYS — newer debt, queued
    # behind keys that have already waited a full round)
    never = queue_order.backlog()
    new = set(mod._NEW_KEYS)
    assert mod._BACKLOG == [k for k in never if k not in new], (
        "committed _BACKLOG drifted from tools/queue_order.backlog() "
        "minus _NEW_KEYS; regenerate it"
    )
    assert new <= set(never), "a 'new' key already has a driver row"
    assert not (new & set(mod._BACKLOG)), (
        "_NEW_KEYS duplicates a backlog key"
    )
    expected = (
        mod._BACKLOG + mod._NEW_KEYS + queue_order.stale_rotation()
    )[:50]
    assert ordered[:50] == expected, (
        "window is not backlog + new-additions + stalest-gated; "
        "regenerate the pinned lists with tools/queue_order.py"
    )
    if len(mod._BACKLOG) < 50:
        # partially drained: whatever window slots the backlog and the
        # new additions don't fill must re-gate the stalest keys
        n_regate = 50 - min(50, len(mod._BACKLOG) + len(mod._NEW_KEYS))
        rot = queue_order.stale_rotation()
        assert ordered[50 - n_regate : 50] == rot[:n_regate]


def test_queue_drains_never_gated_first():
    """Invariant across both policies: a never-gated key is either in
    the queue's lead block (``_BACKLOG + _NEW_KEYS``, before every
    gated key) or parked BEHIND the 50-key driver window waiting for a
    future lead slot.  What must never happen is a never-gated key
    sitting inside the window but behind gated keys: there it would
    burn a driver slot without being first in line."""
    mod = _entry_module()
    ordered = mod._ordered_keys()
    gated = _gated_keys() & set(ordered)
    never = [k for k in ordered if k not in gated]
    if not never:
        return
    n_leads = len(mod._BACKLOG) + len(mod._NEW_KEYS)
    leads = set(mod._BACKLOG) | set(mod._NEW_KEYS)
    stragglers = [
        k
        for k in never
        if k not in leads and ordered.index(k) < 50
    ]
    assert not stragglers, (
        f"never-gated keys inside the driver window but not leading it: "
        f"{stragglers[:5]}"
    )
    in_window = [k for k in never if ordered.index(k) < 50]
    for k in in_window:
        assert ordered.index(k) < n_leads, (
            f"window lead {k} queued behind a gated key"
        )


def test_every_query_has_oracle_or_documented_exemption():
    missing = sorted(set(QUERIES) - set(ORACLES))
    assert not missing, f"queries without a DuckDB oracle: {missing}"


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_all_outputs_scalar_only(name, spark):
    """No catalog query may project Array/Map/Struct columns — the
    driver's value canonicalizer hashes scalar cells only (the round-5
    red-row class).  Same pass also pins the plan-shape invariant: no
    initial physical plan may contain a CartesianProduct (a broadcast
    1-row crossJoin plans as BroadcastNestedLoopJoin and is fine; a
    bare CartesianProduct is always an unbounded all-pairs bug at
    scale).  Audited clean across the whole catalog in round 7, and the
    exchange counts are pinned against tools/plan_shapes.json below."""
    df = QUERIES[name](spark, SF_SMOKE)
    bad = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _COMPLEX)
    ]
    assert not bad, (
        f"{name} projects non-scalar columns {bad}; the driver gate "
        "cannot hash these — canonicalize to string/number first"
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "simple"
        )
    )
    assert "CartesianProduct" not in plan, (
        f"{name} plans a CartesianProduct — an all-pairs join escaped "
        "its blocking/banding/broadcast strategy"
    )
    shape = plan_shapes.plan_shape(df)
    recorded = _PLAN_LEDGER.get(name)
    assert recorded is not None, (
        f"{name} has no entry in tools/plan_shapes.json — run "
        "`python tools/plan_shapes.py --write`"
    )
    assert shape == recorded, (
        f"{name} plan shape drifted: ledger={recorded} now={shape}. "
        "A shuffle-count INCREASE is a scale regression; a decrease is "
        "an improvement — either way regenerate the ledger deliberately "
        "(`python tools/plan_shapes.py --write`)"
    )


def test_scale_probe_tool_smoke(spark, tmp_path, monkeypatch):
    """The scaling-probe tool runs end-to-end on the smallest fixtures
    and emits per-factor seconds, row counts, and slopes for every op."""
    import sys

    from tools import scale_probe

    monkeypatch.setattr(scale_probe, "SF_DIR", "/root/testdata/sf0.001")
    monkeypatch.setattr(scale_probe, "WORK", str(tmp_path / "probe"))
    out = tmp_path / "probe.json"
    # one timed sample per (op, factor): the tool still runs its untimed
    # warmups, and repeated samples re-run identical plans
    monkeypatch.setattr(
        sys,
        "argv",
        ["scale_probe.py", "--factors=1,2", "--samples=1", f"--out={out}"],
    )
    scale_probe.main()
    doc = json.loads(out.read_text())
    assert doc["factors"] == [1, 2]
    assert set(doc["ops"]) == set(scale_probe.OPS_ALL)
    for op, r in doc["ops"].items():
        assert set(r["sec"]) == {"1", "2"}, op
        assert all(len(v) == 1 for v in r["samples"].values()), op
        assert isinstance(r["loglog_slope"], float), op
    assert doc["input_rows"]["2"]["events"] == 2 * doc["input_rows"]["1"]["events"]
