"""Round-12 connected-components composition changes: jump-free
numeric defaults, the pointer-jump escalation backstop, the mid-round
convergence probes, and the shingle-relation pin in the posting-list
pair operators."""

from pyspark.sql import functions as F


def test_cc_long_chain_converges_under_jump_free_defaults(spark):
    """A 60-node path graph is the adversarial shape for jump-free
    propagation (diameter ≫ half_steps × rounds before escalation): the
    _JUMP_ESCALATION_ROUND backstop must still reach the exact fixpoint
    well inside max_iterations."""
    from knot_another_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {i: 0 for i in range(61)}
    assert 0 < dedup._LAST_CC_ROUNDS < 25  # converged, not round-capped


def test_cc_explicit_jumps_and_zero_jumps_same_fixpoint(spark):
    """pointer_jumps=0 is now a real setting (the old code silently
    promoted it to 1); every composition reaches the same labels."""
    from knot_another_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                20: 20, 21: 20, 22: 20}
    for half, jumps in [(1, 0), (2, 1), (3, 0), (5, 2)]:
        got = {
            r["id"]: r["component"]
            for r in dedup.connected_components(
                pairs, half_steps_per_round=half, pointer_jumps=jumps
            ).collect()
        }
        assert got == expected, (half, jumps)


def test_cc_mid_round_probe_breaks_without_confirm_round(spark):
    """A single edge converges in half-step 1; the mid-round label-sum
    probes certify the fixpoint inside round 1, so the loop ends after
    ONE pinned round instead of running a confirming second round."""
    from knot_another_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame([(7, 9)], "id_a long, id_b long")
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {7: 7, 9: 7}
    assert dedup._LAST_CC_ROUNDS == 1


def test_cc_empty_graph_ends_after_one_round(spark):
    """An empty pair frame has no label to propagate: the round's
    observed row count ends the loop after one round, and no row comes
    back. A NULL label sum alone is not taken as a fixpoint."""
    from knot_another_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup.connected_components(pairs).collect() == []
    assert dedup._LAST_CC_ROUNDS == 1


def test_cc_generic_string_path_keeps_jumped_defaults(spark):
    """Non-numeric ids resolve to the jumped composition (grid graphs
    have genuine chains) and still produce exact components."""
    from knot_another_pipeline_spark.operators import dedup

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "id_a string, id_b string"
    )
    got = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_posting_pair_operators_pin_matches_unpinned(spark):
    """The r12 shingle pin in ngram_jaccard_pairs / containment_pairs is
    a pure plan change: toggling it off yields identical rows."""
    from knot_another_pipeline_spark.operators import dedup

    sh = spark.createDataFrame(
        [(1, "aa"), (1, "bb"), (2, "aa"), (2, "bb"), (2, "cc"),
         (3, "cc"), (3, "dd")],
        "id long, shingle string",
    )

    def rows(fn, **kw):
        return sorted(
            tuple(r) for r in fn(sh, **kw).collect()
        )

    for fn, kw in [
        (dedup.ngram_jaccard_pairs, {"min_jaccard": 0.0, "max_doc_freq": 5}),
        (dedup.containment_pairs, {"min_containment": 0.0,
                                   "max_doc_freq": 5}),
    ]:
        dedup._PIN_SHINGLES = True
        pinned = rows(fn, **kw)
        try:
            dedup._PIN_SHINGLES = False
            unpinned = rows(fn, **kw)
        finally:
            dedup._PIN_SHINGLES = True
        assert pinned == unpinned and len(pinned) > 0
