"""Round-6 operators: two-sample KS test, Cohen's kappa, uplift/Qini
table, interpolated bigram LM, n-gram novelty, HITS, k-core, and
Fellegi-Sunter linkage weights.

Each operator is checked against hand-computed or brute-force Python
references; DuckDB oracle parity runs in test_catalog_oracle.py.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from knot_another_pipeline_spark.operators.dedup import linkage_weights
from knot_another_pipeline_spark.operators.evaluation import uplift_table
from knot_another_pipeline_spark.operators.graph import hits_step, k_core
from knot_another_pipeline_spark.operators.quality import cohens_kappa, ks_test
from knot_another_pipeline_spark.operators.text_analysis import (
    bigram_lm_score,
    ngram_novelty,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# ks_test
# ---------------------------------------------------------------------------


def _ks_bruteforce(a, b):
    pooled = sorted(set(a) | set(b))
    na, nb = len(a), len(b)
    d = 0.0
    for v in pooled:
        fa = sum(1 for x in a if x <= v) / na
        fb = sum(1 for x in b if x <= v) / nb
        d = max(d, abs(fa - fb))
    return d


def test_ks_matches_bruteforce(spark):
    a = [1.0, 2.0, 2.0, 3.0, 5.0, 8.0, 9.0]
    b = [2.0, 4.0, 4.0, 6.0, 7.0]
    dfa = spark.createDataFrame([(x,) for x in a], ["v"])
    dfb = spark.createDataFrame([(x,) for x in b], ["v"])
    row = ks_test(dfa, dfb, "v").collect()[0]
    d = _ks_bruteforce(a, b)
    assert row["n_a"] == 7 and row["n_b"] == 5
    assert row["ks_d"] == pytest.approx(d, abs=1e-6)
    assert row["ks_scaled"] == pytest.approx(
        d * math.sqrt(7 * 5 / 12), abs=1e-6
    )


def test_ks_identical_samples_zero(spark):
    vals = [(float(i % 7),) for i in range(70)]
    dfa = spark.createDataFrame(vals, ["v"])
    row = ks_test(dfa, dfa, "v").collect()[0]
    assert row["ks_d"] == 0.0


def test_ks_disjoint_samples_one(spark):
    dfa = spark.createDataFrame([(1.0,), (2.0,)], ["v"])
    dfb = spark.createDataFrame([(10.0,), (11.0,)], ["v"])
    row = ks_test(dfa, dfb, "v").collect()[0]
    assert row["ks_d"] == 1.0


def test_ks_grouped_windows_are_keyed(spark):
    dfa = spark.createDataFrame(
        [("g1", 1.0), ("g1", 2.0), ("g2", 5.0)], ["grp", "v"]
    )
    dfb = spark.createDataFrame(
        [("g1", 1.5), ("g2", 5.0), ("g2", 6.0)], ["grp", "v"]
    )
    out = {r["grp"]: r for r in ks_test(dfa, dfb, "v", by=["grp"]).collect()}
    assert set(out) == {"g1", "g2"}
    assert out["g1"]["ks_d"] == pytest.approx(
        _ks_bruteforce([1.0, 2.0], [1.5]), abs=1e-6
    )
    plan = _plan(ks_test(dfa, dfb, "v", by=["grp"]))
    assert "windowspecdefinition(grp" in plan, plan


# ---------------------------------------------------------------------------
# cohens_kappa
# ---------------------------------------------------------------------------


def test_kappa_textbook_two_by_two(spark):
    # Classic example: 45 yes/yes, 15 yes/no, 25 no/yes, 15 no/no
    rows = (
        [("y", "y")] * 45 + [("y", "n")] * 15
        + [("n", "y")] * 25 + [("n", "n")] * 15
    )
    df = spark.createDataFrame(rows, ["a", "b"])
    row = cohens_kappa(df, rater_a="a", rater_b="b").collect()[0]
    po = 60 / 100
    pe = (60 / 100) * (70 / 100) + (40 / 100) * (30 / 100)
    kappa = (po - pe) / (1 - pe)
    assert row["n"] == 100
    assert row["p_observed"] == pytest.approx(po, abs=1e-6)
    assert row["p_expected"] == pytest.approx(pe, abs=1e-6)
    assert row["kappa"] == pytest.approx(kappa, abs=1e-6)


def test_kappa_perfect_and_degenerate(spark):
    perfect = spark.createDataFrame(
        [("x", "x"), ("y", "y"), ("z", "z")], ["a", "b"]
    )
    assert cohens_kappa(perfect, rater_a="a", rater_b="b").collect()[0][
        "kappa"
    ] == pytest.approx(1.0)
    # both raters constant on the same label -> pe = 1 -> kappa NULL
    const = spark.createDataFrame([("x", "x")] * 5, ["a", "b"])
    assert (
        cohens_kappa(const, rater_a="a", rater_b="b").collect()[0]["kappa"]
        is None
    )


def test_kappa_drops_null_labels(spark):
    df = spark.createDataFrame(
        [("x", "x"), ("y", None), (None, "y"), ("x", "y")], ["a", "b"]
    )
    row = cohens_kappa(df, rater_a="a", rater_b="b").collect()[0]
    assert row["n"] == 2


def test_kappa_empty_and_all_null_input(spark):
    """No labelled pair: n is 0 (as the three-pass COUNT gave), and the
    three ratios are undefined, so NULL."""
    empty = spark.createDataFrame([], "a string, b string")
    all_null = spark.createDataFrame(
        [("x", None), (None, "y"), (None, None)], "a string, b string"
    )
    for df in (empty, all_null):
        rows = cohens_kappa(df, rater_a="a", rater_b="b").collect()
        assert len(rows) == 1
        assert rows[0]["n"] == 0
        assert rows[0]["p_observed"] is None
        assert rows[0]["p_expected"] is None
        assert rows[0]["kappa"] is None


# ---------------------------------------------------------------------------
# uplift_table
# ---------------------------------------------------------------------------


def test_uplift_values_and_qini(spark):
    # 200 rows, score i/200; top quintile: treated convert 100%, control 0%
    rows = []
    for i in range(200):
        trt = i % 2 == 1
        score = i / 200.0
        y = 1 if (i >= 160 and trt) else 0
        rows.append((score, y, "treatment" if trt else "control"))
    df = spark.createDataFrame(rows, ["score", "label", "arm"])
    out = {
        r["tile"]: r
        for r in uplift_table(
            df,
            score_col="score",
            label_col="label",
            arm_col="arm",
            control="control",
            treatment="treatment",
            n_tiles=5,
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    top = out[1]
    assert top["n_trt"] == 20 and top["n_ctl"] == 20
    assert top["rate_trt"] == pytest.approx(1.0)
    assert top["rate_ctl"] == pytest.approx(0.0)
    assert top["uplift"] == pytest.approx(1.0)
    # qini at tile 1: 20 - 0*(20/20) = 20
    assert top["cum_qini"] == pytest.approx(20.0)
    # lower tiles have no events in either arm -> uplift 0, qini stays 20
    assert out[5]["uplift"] == pytest.approx(0.0)
    assert out[5]["cum_qini"] == pytest.approx(20.0)


def test_uplift_empty_arm_tile_is_null(spark):
    rows = [(i / 10.0, i % 2, "treatment") for i in range(10)] + [
        (0.05, 1, "control")
    ]
    df = spark.createDataFrame(rows, ["score", "label", "arm"])
    out = uplift_table(
        df,
        score_col="score",
        label_col="label",
        arm_col="arm",
        control="control",
        treatment="treatment",
        n_tiles=2,
    ).collect()
    top = [r for r in out if r["tile"] == 1][0]
    assert top["n_ctl"] == 0
    assert top["rate_ctl"] is None and top["uplift"] is None


def test_uplift_drops_other_arms_and_validates(spark):
    df = spark.createDataFrame(
        [(0.5, 1, "treatment"), (0.4, 0, "control"), (0.3, 1, "holdout")],
        ["score", "label", "arm"],
    )
    out = uplift_table(
        df,
        score_col="score",
        label_col="label",
        arm_col="arm",
        control="control",
        treatment="treatment",
        n_tiles=2,
    )
    assert sum(r["n_trt"] + r["n_ctl"] for r in out.collect()) == 2
    with pytest.raises(ValueError, match="n_tiles"):
        uplift_table(
            df,
            score_col="score",
            label_col="label",
            arm_col="arm",
            control="control",
            treatment="treatment",
            n_tiles=1,
        )


# ---------------------------------------------------------------------------
# bigram_lm_score
# ---------------------------------------------------------------------------


def _bigram_reference(docs, lam=0.75, alpha=0.5):
    toks = {i: t.lower().split() for i, t in docs}
    bi, ctx, uni = {}, {}, {}
    for t in toks.values():
        for w1, w2 in zip(t, t[1:]):
            bi[(w1, w2)] = bi.get((w1, w2), 0) + 1
            ctx[w1] = ctx.get(w1, 0) + 1
            uni[w2] = uni.get(w2, 0) + 1
    n = sum(uni.values())
    v = len(uni)
    out = {}
    for i, t in toks.items():
        pairs = list(zip(t, t[1:]))
        if not pairs:
            out[i] = (0, None)
            continue
        lps = []
        for w1, w2 in pairs:
            pb = bi.get((w1, w2), 0) / ctx[w1] if ctx.get(w1) else 0.0
            pu = (uni.get(w2, 0) + alpha) / (n + alpha * v)
            lps.append(math.log(lam * pb + (1 - lam) * pu))
        out[i] = (len(pairs), sum(lps) / len(lps))
    return out


def test_bigram_lm_matches_reference(spark):
    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat"),
        (3, "mat the on"),          # broken transitions, fine unigrams
        (4, "zzz"),                 # single token -> NULL score
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["id"]: r
        for r in bigram_lm_score(df, id_col="doc_id", text_col="text").collect()
    }
    ref = _bigram_reference(docs)
    assert set(got) == {1, 2, 3, 4}
    for i, (nb, lp) in ref.items():
        assert got[i]["n_bigrams"] == nb
        if lp is None:
            assert got[i]["avg_logprob"] is None
        else:
            assert got[i]["avg_logprob"] == pytest.approx(lp, abs=1e-5)
    # the fluency signal: same unigrams, scrambled transitions score lower
    assert got[3]["avg_logprob"] < got[1]["avg_logprob"]


def test_bigram_lm_validation(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="lam"):
        bigram_lm_score(df, id_col="doc_id", text_col="text", lam=1.0)
    with pytest.raises(ValueError, match="alpha"):
        bigram_lm_score(df, id_col="doc_id", text_col="text", alpha=0.0)


# ---------------------------------------------------------------------------
# ngram_novelty
# ---------------------------------------------------------------------------


def test_novelty_first_doc_is_fully_novel(spark):
    docs = [
        (1, "a b c d e"),            # grams: abc bcd cde — all novel
        (2, "a b c d e"),            # exact copy — zero novel
        (3, "a b c x y z"),          # abc seen; bcx cxy xyz novel
        (4, "a b"),                  # too short: no grams
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["id"]: r
        for r in ngram_novelty(
            df, id_col="doc_id", text_col="text", n=3
        ).collect()
    }
    assert got[1]["novelty"] == pytest.approx(1.0)
    assert got[2]["novelty"] == pytest.approx(0.0)
    assert got[3]["n_grams"] == 4 and got[3]["n_novel"] == 3
    assert got[3]["novelty"] == pytest.approx(0.75)
    assert got[4]["n_grams"] == 0 and got[4]["novelty"] is None


def test_novelty_counts_distinct_grams_once(spark):
    # repeated gram within one doc counts once (distinct)
    df = spark.createDataFrame([(1, "a b a b a b")], ["doc_id", "text"])
    row = ngram_novelty(df, id_col="doc_id", text_col="text", n=3).collect()[0]
    # grams: "a b a","b a b","a b a","b a b" -> 2 distinct, both novel
    assert row["n_grams"] == 2 and row["n_novel"] == 2


# ---------------------------------------------------------------------------
# hits_step
# ---------------------------------------------------------------------------


def test_hits_one_iteration_matches_reference(spark):
    edges = [("h1", "a1"), ("h1", "a2"), ("h2", "a2"), ("h3", "a2")]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r for r in hits_step(df, iterations=1).collect()}
    # auth raw: a1=1, a2=3; L2 norm sqrt(10)
    z = math.sqrt(10)
    assert out["a1"]["authority"] == pytest.approx(1 / z, abs=1e-6)
    assert out["a2"]["authority"] == pytest.approx(3 / z, abs=1e-6)
    # hub raw: h1 = a1+a2 = 4/z ; h2 = h3 = 3/z ; L2-normalize
    hz = math.sqrt((4 / z) ** 2 + 2 * (3 / z) ** 2)
    assert out["h1"]["hub"] == pytest.approx((4 / z) / hz, abs=1e-6)
    assert out["h2"]["hub"] == pytest.approx((3 / z) / hz, abs=1e-6)
    # pure sources have authority 0; pure sinks hub 0
    assert out["h1"]["authority"] == 0.0
    assert out["a1"]["hub"] == 0.0


def test_hits_authority_ranks_endorsement_not_degree(spark):
    # a1 gets 3 links from 1-link hubs; a2 gets 2 links from strong hubs
    # after 2 iterations a2's endorsement quality shows
    edges = (
        [(f"weak{i}", "a1") for i in range(3)]
        + [("s1", "a2"), ("s2", "a2")]
        + [("s1", "b1"), ("s1", "b2"), ("s2", "b1"), ("s2", "b2")]
    )
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r for r in hits_step(df, iterations=2).collect()}
    assert out["a2"]["authority"] > 0
    with pytest.raises(ValueError, match="iterations"):
        hits_step(df, iterations=0)


# ---------------------------------------------------------------------------
# k_core
# ---------------------------------------------------------------------------


def test_k_core_peels_tendrils(spark):
    # K4 core {1,2,3,4} with a chain 4-5-6 hanging off it
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = k4 + [(4, 5), (5, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    out = {r["node"]: r for r in k_core(df, k=3).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert all(r["degree"] == 3 for r in out.values())
    assert all(r["converged"] for r in out.values())


def test_k_core_cascade_and_empty(spark):
    # a path graph has no 2-core
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    assert k_core(df, k=2).count() == 0
    # a cycle IS its own 2-core
    cyc = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["src", "dst"])
    out = k_core(cyc, k=2).collect()
    assert {r["node"] for r in out} == {1, 2, 3}


def test_k_core_ignores_self_loops_and_duplicates(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 3), (3, 1)], ["src", "dst"]
    )
    out = k_core(df, k=2).collect()
    assert {r["node"] for r in out} == {1, 2, 3}
    assert all(r["degree"] == 2 for r in out)


# ---------------------------------------------------------------------------
# linkage_weights
# ---------------------------------------------------------------------------


def test_linkage_weights_match_hand_computation(spark):
    # 4 matches: field agrees on 3; 6 non-matches: field agrees on 1
    rows = (
        [(True, True)] * 3 + [(True, False)] * 1
        + [(False, True)] * 1 + [(False, False)] * 5
    )
    df = spark.createDataFrame(rows, ["is_match", "name_agree"])
    row = linkage_weights(
        df, match_col="is_match", agreement_cols=["name_agree"]
    ).collect()[0]
    m = (3 + 0.5) / (4 + 1)
    u = (1 + 0.5) / (6 + 1)
    assert row["field"] == "name_agree"
    assert row["n_match"] == 4 and row["n_nonmatch"] == 6
    assert row["m"] == pytest.approx(m, abs=1e-6)
    assert row["u"] == pytest.approx(u, abs=1e-6)
    assert row["w_agree"] == pytest.approx(math.log2(m / u), abs=1e-5)
    assert row["w_disagree"] == pytest.approx(
        math.log2((1 - m) / (1 - u)), abs=1e-5
    )


def test_linkage_weights_null_flags_excluded_and_mle_guard(spark):
    rows = [(True, True), (True, None), (False, False), (False, None)]
    df = spark.createDataFrame(rows, ["is_match", "f"])
    row = linkage_weights(
        df, match_col="is_match", agreement_cols=["f"], smoothing=0.0
    ).collect()[0]
    assert row["n_match"] == 1 and row["n_nonmatch"] == 1
    assert row["m"] == 1.0 and row["u"] == 0.0
    # raw MLE at the boundary: log2(1/0) and log2(0/1) guard to NULL
    assert row["w_agree"] is None and row["w_disagree"] is None
    with pytest.raises(ValueError, match="agreement_cols"):
        linkage_weights(df, match_col="is_match", agreement_cols=[])


# ---------------------------------------------------------------------------
# mmr_select
# ---------------------------------------------------------------------------


def _mmr_reference(items, k, lam):
    """items: [(id, vec, rel)] with unit vecs; greedy MMR, round-6
    argmax with id tiebreak."""
    sel = []
    remaining = dict((i, (v, r)) for i, v, r in items)
    for rank in range(1, k + 1):
        best = None
        for i, (v, r) in remaining.items():
            if not sel:
                score = round(r, 6)
            else:
                ms = max(
                    sum(a * b for a, b in zip(v, sv)) for _, sv, _ in sel
                )
                score = round(lam * r - (1 - lam) * ms, 6)
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i, score)
        if best is None:
            break
        _, i, score = best
        v, r = remaining.pop(i)
        sel.append((i, v, r))
    return [i for i, _, _ in sel]


def test_mmr_trades_relevance_for_diversity(spark):
    from knot_another_pipeline_spark.operators.similarity import mmr_select

    # two near-identical highly relevant vectors + one orthogonal
    rows = [
        (1, [1.0, 0.0], 0.99),
        (2, [0.999, 0.0447], 0.98),   # near-copy of 1
        (3, [0.0, 1.0], 0.60),
    ]
    df = spark.createDataFrame(rows, ["id", "v", "rel"])
    out = [
        r["id"]
        for r in mmr_select(
            df, id_col="id", vec_col="v", rel_col="rel", k=2, lam=0.5
        ).collect()
    ]
    # pure relevance would pick [1, 2]; MMR picks the orthogonal 3
    assert out == [1, 3]


def test_mmr_matches_bruteforce_and_is_deterministic(spark):
    import random

    from knot_another_pipeline_spark.operators.similarity import mmr_select

    rng = random.Random(7)
    items = []
    for i in range(20):
        raw = [rng.uniform(-1, 1) for _ in range(4)]
        n = math.sqrt(sum(x * x for x in raw))
        items.append((i, [x / n for x in raw], rng.uniform(0, 1)))
    df = spark.createDataFrame(items, ["id", "v", "rel"])
    got = [
        r["id"]
        for r in mmr_select(
            df, id_col="id", vec_col="v", rel_col="rel", k=6, lam=0.7
        ).collect()
    ]
    assert got == _mmr_reference(items, 6, 0.7)
    got2 = [
        r["id"]
        for r in mmr_select(
            df.repartition(5), id_col="id", vec_col="v", rel_col="rel",
            k=6, lam=0.7,
        ).collect()
    ]
    assert got2 == got


def test_mmr_lam_one_is_pure_relevance_and_validation(spark):
    from knot_another_pipeline_spark.operators.similarity import mmr_select

    rows = [(i, [1.0, 0.0], i / 10.0) for i in range(5)]
    df = spark.createDataFrame(rows, ["id", "v", "rel"])
    out = [
        r["id"]
        for r in mmr_select(
            df, id_col="id", vec_col="v", rel_col="rel", k=3, lam=1.0
        ).collect()
    ]
    assert out == [4, 3, 2]
    with pytest.raises(ValueError, match="k must"):
        mmr_select(df, id_col="id", vec_col="v", rel_col="rel", k=0)
    with pytest.raises(ValueError, match="lam"):
        mmr_select(df, id_col="id", vec_col="v", rel_col="rel", lam=1.5)


# ---------------------------------------------------------------------------
# pair_eval
# ---------------------------------------------------------------------------


def test_pair_eval_canonicalizes_and_counts(spark):
    from knot_another_pipeline_spark.operators.evaluation import pair_eval

    pred = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 4), (5, 6), (7, 7)], ["id_a", "id_b"]
    )  # (2,1) dup of (1,2); (7,7) self-pair dropped -> 3 pairs
    truth = spark.createDataFrame(
        [(2, 1), (4, 3), (8, 9), (10, 11)], ["id_a", "id_b"]
    )
    row = pair_eval(pred, truth).collect()[0]
    assert row["n_pred"] == 3 and row["n_true"] == 4 and row["tp"] == 2
    assert row["precision"] == pytest.approx(2 / 3, abs=1e-6)
    assert row["recall"] == pytest.approx(0.5, abs=1e-6)
    p, r = 2 / 3, 0.5
    assert row["f1"] == pytest.approx(2 * p * r / (p + r), abs=1e-6)


def test_pair_eval_empty_sides_null_metrics(spark):
    from knot_another_pipeline_spark.operators.evaluation import pair_eval

    pairs = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    empty = pairs.filter(F.lit(False))
    row = pair_eval(empty, pairs).collect()[0]
    assert row["n_pred"] == 0 and row["precision"] is None
    assert row["recall"] == 0.0 and row["f1"] is None


# ---------------------------------------------------------------------------
# score_linkage_pairs
# ---------------------------------------------------------------------------


def test_score_linkage_pairs_sums_field_weights(spark):
    from knot_another_pipeline_spark.operators.dedup import (
        linkage_weights,
        score_linkage_pairs,
    )

    rows = (
        [(True, True, True)] * 6 + [(True, False, True)] * 2
        + [(False, True, False)] * 3 + [(False, False, False)] * 9
    )
    df = spark.createDataFrame(rows, ["is_match", "f1", "f2"])
    w = linkage_weights(
        df, match_col="is_match", agreement_cols=["f1", "f2"]
    )
    wm = {r["field"]: r for r in w.collect()}
    scored = score_linkage_pairs(df, w, agreement_cols=["f1", "f2"])
    got = {
        (r["f1"], r["f2"]): r["match_weight"] for r in scored.collect()
    }
    for (a1, a2), mw in got.items():
        exp = (
            wm["f1"]["w_agree"] if a1 else wm["f1"]["w_disagree"]
        ) + (wm["f2"]["w_agree"] if a2 else wm["f2"]["w_disagree"])
        assert mw == pytest.approx(exp, abs=1e-5)
    # agreeing pairs must outscore disagreeing ones
    assert got[(True, True)] > got[(False, False)]


def test_score_linkage_pairs_null_flag_contributes_zero(spark):
    from knot_another_pipeline_spark.operators.dedup import (
        score_linkage_pairs,
    )

    w = spark.createDataFrame(
        [("f1", 2.0, -1.0)], ["field", "w_agree", "w_disagree"]
    )
    pairs = spark.createDataFrame(
        [(1, True), (2, False), (3, None)], ["pid", "f1"]
    )
    got = {
        r["pid"]: r["match_weight"]
        for r in score_linkage_pairs(
            pairs, w, agreement_cols=["f1"]
        ).collect()
    }
    assert got == {1: 2.0, 2: -1.0, 3: 0.0}
    # plan shape: the weights side is a broadcast, the pair frame never
    # shuffles
    plan = _plan(score_linkage_pairs(pairs, w, agreement_cols=["f1"]))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------


def test_containment_detects_inclusion_dup(spark):
    from knot_another_pipeline_spark.operators.dedup import (
        containment_pairs,
        shingle_table,
    )

    big = "the quick brown fox jumps over the lazy dog again and again"
    sub = "quick brown fox jumps over the lazy dog"  # fully contained
    other = "completely different words about spark partitions and joins"
    docs = spark.createDataFrame(
        [(1, big), (2, sub), (3, other)], ["doc_id", "text"]
    )
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3)
    out = {
        (r["id_a"], r["id_b"]): r
        for r in containment_pairs(sh, min_containment=0.5).collect()
    }
    # every shingle of 2 appears in 1 -> containment(2 in 1) == 1.0
    assert out[(2, 1)]["containment"] == 1.0
    # containment(1 in 2) = inter/|1| < 1 (1 has extra shingles)
    assert (1, 2) in out and out[(1, 2)]["containment"] < 1.0
    assert out[(1, 2)]["inter"] == out[(2, 1)]["inter"]
    assert not any(3 in k for k in out)


def test_containment_stop_shingle_cap_and_validation(spark):
    from knot_another_pipeline_spark.operators.dedup import (
        containment_pairs,
        shingle_table,
    )

    # boilerplate shingle shared by all docs is dropped at df cap 2
    rows = [
        (i, f"common boiler plate unique{i} tail{i} words{i}")
        for i in range(1, 5)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3)
    out = containment_pairs(sh, min_containment=0.1, max_doc_freq=2).collect()
    assert out == []  # the only shared shingle has df=4 > 2
    with pytest.raises(ValueError, match="min_containment"):
        containment_pairs(sh, min_containment=1.5)


# ---------------------------------------------------------------------------
# linkage_em_step
# ---------------------------------------------------------------------------


def _em_reference(rows, m, u, p):
    """rows: list of dicts field->bool|None."""
    fields = list(m)
    sw = 0.0
    n = len(rows)
    num = {f: [0.0, 0.0, 0.0, 0.0] for f in fields}  # dw, nw, du, nu
    for r in rows:
        lm, lu = p, 1 - p
        for f in fields:
            g = r[f]
            if g is None:
                continue
            lm *= m[f] if g else 1 - m[f]
            lu *= u[f] if g else 1 - u[f]
        w = lm / (lm + lu)
        sw += w
        for f in fields:
            g = r[f]
            if g is None:
                continue
            num[f][0] += w
            num[f][2] += 1 - w
            if g:
                num[f][1] += w
                num[f][3] += 1 - w
    return {
        f: (
            round(num[f][1] / num[f][0], 6),
            round(num[f][3] / num[f][2], 6),
            round(sw / n, 6),
        )
        for f in fields
    }


def test_linkage_em_step_matches_reference(spark):
    from knot_another_pipeline_spark.operators.dedup import linkage_em_step

    rows = (
        [{"f1": True, "f2": True}] * 5
        + [{"f1": True, "f2": False}] * 3
        + [{"f1": False, "f2": True}] * 2
        + [{"f1": False, "f2": False}] * 10
        + [{"f1": None, "f2": True}] * 2
    )
    m = {"f1": 0.9, "f2": 0.8}
    u = {"f1": 0.3, "f2": 0.4}
    df = spark.createDataFrame(
        [(r["f1"], r["f2"]) for r in rows], ["f1", "f2"]
    )
    got = {
        r["field"]: (r["m_new"], r["u_new"], r["p_new"])
        for r in linkage_em_step(
            df, agreement_cols=["f1", "f2"], m=m, u=u, p=0.25
        ).collect()
    }
    ref = _em_reference(rows, m, u, 0.25)
    for f in ("f1", "f2"):
        for a, b in zip(got[f], ref[f]):
            assert a == pytest.approx(b, abs=2e-6)


def test_linkage_em_step_validation(spark):
    from knot_another_pipeline_spark.operators.dedup import linkage_em_step

    df = spark.createDataFrame([(True,)], ["f1"])
    with pytest.raises(ValueError, match="agreement_cols"):
        linkage_em_step(df, agreement_cols=[], m={}, u={}, p=0.5)
    with pytest.raises(ValueError, match="p must"):
        linkage_em_step(
            df, agreement_cols=["f1"], m={"f1": 0.9}, u={"f1": 0.1}, p=0.0
        )
    with pytest.raises(ValueError, match="missing m/u"):
        linkage_em_step(df, agreement_cols=["f1"], m={}, u={}, p=0.5)
    with pytest.raises(ValueError, match="must be in"):
        linkage_em_step(
            df, agreement_cols=["f1"], m={"f1": 1.0}, u={"f1": 0.1}, p=0.5
        )


# ---------------------------------------------------------------------------
# woe_iv
# ---------------------------------------------------------------------------


def test_woe_iv_hand_values(spark):
    from knot_another_pipeline_spark.operators.features import woe_iv

    # feature g: level A -> 3 pos / 1 neg, level B -> 1 pos / 3 neg
    rows = (
        [("A", True)] * 3 + [("A", False)] * 1
        + [("B", True)] * 1 + [("B", False)] * 3
    )
    df = spark.createDataFrame(rows, ["g", "y"])
    out = {r["level"]: r for r in woe_iv(
        df, feature_cols=["g"], label_col="y"
    ).collect()}
    s, nl = 0.5, 2
    ps_a = (3 + s) / (4 + s * nl)
    ns_a = (1 + s) / (4 + s * nl)
    woe_a = math.log(ps_a / ns_a)
    assert out["A"]["woe"] == pytest.approx(woe_a, abs=1e-6)
    assert out["A"]["n_pos"] == 3 and out["A"]["n_neg"] == 1
    # symmetric construction -> woe_B = -woe_A, iv equal on both rows
    assert out["B"]["woe"] == pytest.approx(-woe_a, abs=1e-6)
    iv = 2 * (ps_a - ns_a) * woe_a
    assert out["A"]["iv"] == pytest.approx(iv, abs=1e-6)
    assert out["B"]["iv"] == out["A"]["iv"]


def test_woe_iv_null_level_and_label_drop(spark):
    from knot_another_pipeline_spark.operators.features import woe_iv

    rows = [("A", True), (None, False), ("A", None)]
    df = spark.createDataFrame(rows, ["g", "y"])
    out = {r["level"]: r for r in woe_iv(
        df, feature_cols=["g"], label_col="y"
    ).collect()}
    assert set(out) == {"A", "(null)"}  # NULL label row dropped
    assert out["A"]["n_pos"] == 1 and out["A"]["n_neg"] == 0
    assert out["(null)"]["n_neg"] == 1
    with pytest.raises(ValueError, match="feature_cols"):
        woe_iv(df, feature_cols=[], label_col="y")
    with pytest.raises(ValueError, match="smoothing"):
        woe_iv(df, feature_cols=["g"], label_col="y", smoothing=0)


# ---------------------------------------------------------------------------
# label_propagation
# ---------------------------------------------------------------------------


def test_label_propagation_rounds_majority_tiebreak(spark):
    from knot_another_pipeline_spark.operators.graph import label_propagation

    # seeds: 1->'x', 2->'y'; node 3 neighbors both (tie -> min label 'x');
    # node 4 only reachable via 3 (labeled in round 2); 5 isolated
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4), (5, 5)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1, "x"), (2, "y")], ["node", "label"])
    out = {
        r["node"]: (r["label"], r["round"])
        for r in label_propagation(edges, seeds, iterations=2).collect()
    }
    assert out[1] == ("x", 0) and out[2] == ("y", 0)
    assert out[3] == ("x", 1)  # tie between x and y -> min label
    assert out[4] == ("x", 2)
    assert 5 not in out  # self-loop dropped, never reached


def test_label_propagation_clamps_seeds_and_majority(spark):
    from knot_another_pipeline_spark.operators.graph import label_propagation

    # node 10 has neighbors: two labeled 'b', one labeled 'a' -> 'b' wins
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (1, 2)], ["src", "dst"]
    )
    seeds = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b")], ["node", "label"]
    )
    out = {
        r["node"]: (r["label"], r["round"])
        for r in label_propagation(edges, seeds, iterations=3).collect()
    }
    assert out[10] == ("b", 1)
    # seed 1 is adjacent to seed 2 but NEVER flips (clamped)
    assert out[1] == ("a", 0)
    with pytest.raises(ValueError, match="iterations"):
        label_propagation(edges, seeds, iterations=-1)


# ---------------------------------------------------------------------------
# tokenizer_fertility
# ---------------------------------------------------------------------------


def test_tokenizer_fertility_counts(spark):
    from knot_another_pipeline_spark.operators.text_analysis import (
        tokenizer_fertility,
    )

    docs = spark.createDataFrame(
        [
            ("en", "Hello, world!"),   # 2 words; units: Hello , world ! =4
            ("en", "a b"),             # 2 words, 2 units
            ("de", None),              # empty doc
        ],
        ["lang", "text"],
    )
    out = {r["lang"]: r for r in tokenizer_fertility(
        docs, text_col="text", group_cols=["lang"]
    ).collect()}
    en = out["en"]
    assert en["n_docs"] == 2 and en["n_words"] == 4 and en["n_tokens"] == 6
    assert en["fertility"] == pytest.approx(6 / 4, abs=1e-6)
    assert en["n_chars"] == len("Hello, world!") + len("a b")
    de = out["de"]
    assert de["n_docs"] == 1 and de["n_tokens"] == 0
    assert de["fertility"] is None and de["chars_per_token"] is None
    with pytest.raises(ValueError, match="group_cols"):
        tokenizer_fertility(docs, text_col="text", group_cols=[])


# ---------------------------------------------------------------------------
# ranking_metrics
# ---------------------------------------------------------------------------


def test_ranking_metrics_hand_values(spark):
    from knot_another_pipeline_spark.operators.evaluation import (
        ranking_metrics,
    )

    # q1: ranked docs 1..4; rel: d1=2, d3=1, d9=3 (d9 not retrieved)
    ranked = spark.createDataFrame(
        [("q1", d, r) for r, d in enumerate(["d1", "d2", "d3", "d4"], 1)],
        ["query_id", "id", "rank"],
    )
    truth = spark.createDataFrame(
        [("q1", "d1", 2.0), ("q1", "d3", 1.0), ("q1", "d9", 3.0)],
        ["query_id", "id", "rel"],
    )
    row = ranking_metrics(ranked, truth, k=3).collect()[0]
    dcg = 2 / math.log2(2) + 0 + 1 / math.log2(4)
    idcg = 3 / math.log2(2) + 2 / math.log2(3) + 1 / math.log2(4)
    assert row["ndcg"] == pytest.approx(dcg / idcg, abs=1e-6)
    assert row["mrr"] == pytest.approx(1.0, abs=1e-6)  # d1 at rank 1
    assert row["precision_at_k"] == pytest.approx(2 / 3, abs=1e-6)
    assert row["recall_at_k"] == pytest.approx(2 / 3, abs=1e-6)
    assert row["n_retrieved"] == 4 and row["n_relevant"] == 3


def test_ranking_metrics_no_relevant_and_validation(spark):
    from knot_another_pipeline_spark.operators.evaluation import (
        ranking_metrics,
    )

    ranked = spark.createDataFrame(
        [("q1", "d1", 1)], ["query_id", "id", "rank"]
    )
    truth = spark.createDataFrame(
        [("q2", "d9", 1.0)], ["query_id", "id", "rel"]
    )
    row = ranking_metrics(ranked, truth, k=5).collect()[0]
    assert row["query"] == "q1"
    assert row["ndcg"] is None and row["mrr"] is None
    assert row["precision_at_k"] == 0.0 and row["recall_at_k"] is None
    with pytest.raises(ValueError, match="k must"):
        ranking_metrics(ranked, truth, k=0)


# ---------------------------------------------------------------------------
# covisitation_llr
# ---------------------------------------------------------------------------


def _llr_reference(k11, ka, kb, n):
    import math as _m

    k12, k21 = ka - k11, kb - k11
    k22 = n - ka - kb + k11

    def t(k, r, c):
        return k * _m.log(k * n / (r * c)) if k > 0 else 0.0

    return 2 * (
        t(k11, ka, kb) + t(k12, ka, n - kb)
        + t(k21, n - ka, kb) + t(k22, n - ka, n - kb)
    )


def test_covisitation_llr_matches_reference(spark):
    from knot_another_pipeline_spark.operators.behavior import (
        covisitation_llr,
    )

    # 6 baskets: A,B together 3x; A alone 1x; B alone 1x; C with A 1x
    rows = (
        [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (3, "B"),
         (4, "A"), (5, "B"), (6, "A"), (6, "C"), (6, "A")]  # dup A in 6
    )
    df = spark.createDataFrame(rows, ["b", "item"])
    out = {
        (r["item_a"], r["item_b"]): r
        for r in covisitation_llr(
            df, basket_col="b", item_col="item", min_count=1
        ).collect()
    }
    ab = out[("A", "B")]
    assert ab["n_both"] == 3 and ab["n_a"] == 5 and ab["n_b"] == 4
    assert ab["n_baskets"] == 6
    assert ab["llr"] == pytest.approx(
        _llr_reference(3, 5, 4, 6), abs=1e-5
    )
    ac = out[("A", "C")]
    assert ac["n_both"] == 1  # dedup of the repeated (6, A) row
    with pytest.raises(ValueError, match="min_count"):
        covisitation_llr(df, basket_col="b", item_col="item", min_count=0)


def test_covisitation_min_count_prunes(spark):
    from knot_another_pipeline_spark.operators.behavior import (
        covisitation_llr,
    )

    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (3, "C")]
    df = spark.createDataFrame(rows, ["b", "item"])
    out = covisitation_llr(
        df, basket_col="b", item_col="item", min_count=2
    ).collect()
    assert {(r["item_a"], r["item_b"]) for r in out} == {("A", "B")}


# ---------------------------------------------------------------------------
# personalized_pagerank
# ---------------------------------------------------------------------------


def test_personalized_pagerank_concentrates_on_seeds(spark):
    from knot_another_pipeline_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    # two disjoint triangles; seed only in the first
    edges = []
    for base in (0, 10):
        for a, b in [(0, 1), (1, 2), (2, 0)]:
            edges.append((base + a, base + b))
            edges.append((base + b, base + a))
    e = spark.createDataFrame(edges, ["src", "dst"])
    seeds = spark.createDataFrame([(0,)], ["node"])
    pr = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(e, seeds, iterations=5).collect()
    }
    # all mass stays in the seeded component
    assert sum(v for k, v in pr.items() if k >= 10) == pytest.approx(0.0)
    assert pr[0] > pr[1] > 0
    assert pr[1] == pytest.approx(pr[2], abs=1e-12)  # symmetry
    # global pagerank by contrast ranks both components identically
    g = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    assert g[0] == pytest.approx(g[10], abs=1e-12)


def test_personalized_pagerank_weights_and_validation(spark):
    from knot_another_pipeline_spark.operators.graph import (
        personalized_pagerank,
    )

    e = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
    seeds = spark.createDataFrame(
        [(1, 3.0), (2, 1.0)], ["node", "w"]
    )
    pr = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(
            e, seeds, weight_col="w", iterations=0
        ).collect()
    }
    assert pr[1] == pytest.approx(0.75) and pr[2] == pytest.approx(0.25)
    empty = seeds.filter(F.lit(False))
    with pytest.raises(ValueError, match="seeds"):
        personalized_pagerank(e, empty, iterations=1)


# ---------------------------------------------------------------------------
# hll_distinct
# ---------------------------------------------------------------------------


def test_hll_estimate_within_error_and_merge_exact(spark):
    from knot_another_pipeline_spark.operators.quality import hll_distinct

    rows = [("g1", f"u{i}") for i in range(3000)] + [
        ("g2", f"u{i % 40}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["g", "v"])
    out = {r["g"]: r for r in hll_distinct(
        df, group_cols=["g"], value_col="v", p=9
    ).collect()}
    # standard error ~1.04/sqrt(512) ≈ 4.6%; allow 3 sigma
    assert abs(out["g1"]["hll_estimate"] - 3000) / 3000 < 0.14
    assert abs(out["g2"]["hll_estimate"] - 40) / 40 < 0.14
    # determinism: same input, same estimate (no RNG anywhere)
    again = {r["g"]: r for r in hll_distinct(
        df.repartition(7), group_cols=["g"], value_col="v", p=9
    ).collect()}
    assert again["g1"]["hll_estimate"] == out["g1"]["hll_estimate"]
    with pytest.raises(ValueError, match="p must"):
        hll_distinct(df, group_cols=["g"], value_col="v", p=2)
    with pytest.raises(ValueError, match="group_cols"):
        hll_distinct(df, group_cols=[], value_col="v")


# ---------------------------------------------------------------------------
# doc_keywords
# ---------------------------------------------------------------------------


def test_doc_keywords_ranks_distinctive_terms(spark):
    from knot_another_pipeline_spark.operators.search import doc_keywords

    docs = spark.createDataFrame(
        [
            (1, "common common common zebra"),
            (2, "common words here too"),
            (3, "common words everywhere else"),
        ],
        ["doc_id", "text"],
    )
    out = doc_keywords(docs, id_col="doc_id", text_col="text", k=2)
    rows = {(r["id"], r["rank"]): r for r in out.collect()}
    # 'common' has tf=3 in doc1 but df=3; 'zebra' tf=1 df=1
    # score(common) = 3*(ln(4/4)+1)=3.0; score(zebra)=1*(ln(4/2)+1)≈1.69
    assert rows[(1, 1)]["token"] == "common"
    assert rows[(1, 2)]["token"] == "zebra"
    assert rows[(1, 1)]["score"] == pytest.approx(3.0, abs=1e-6)
    assert all(k[1] <= 2 for k in rows)
    with pytest.raises(ValueError, match="k must"):
        doc_keywords(docs, id_col="doc_id", text_col="text", k=0)


# ---------------------------------------------------------------------------
# cluster_quality
# ---------------------------------------------------------------------------


def test_cluster_quality_separated_vs_overlapping(spark):
    from knot_another_pipeline_spark.operators.similarity import (
        cluster_quality,
    )

    # cluster 0 around (0,0), cluster 1 around (10,0): well separated
    rows = [
        (1, [0.0, 0.0], 0), (2, [1.0, 0.0], 0), (3, [0.0, 1.0], 0),
        (4, [10.0, 0.0], 1), (5, [11.0, 0.0], 1), (6, [10.0, 1.0], 1),
    ]
    df = spark.createDataFrame(rows, ["id", "v", "label"])
    out = {r["label"]: r for r in cluster_quality(
        df, id_col="id", vec_col="v", label_col="label"
    ).collect()}
    assert out[0]["n_points"] == 3 and out[1]["n_points"] == 3
    assert out[0]["nearest_label"] == 1 and out[1]["nearest_label"] == 0
    # centroid distance = 10 exactly (same y offsets)
    assert out[0]["nearest_dist"] == pytest.approx(10.0, abs=1e-6)
    # db_term = (s0 + s1)/10, scatter identical by symmetry
    assert out[0]["db_term"] == pytest.approx(
        (out[0]["scatter"] + out[1]["scatter"]) / 10.0, abs=1e-5
    )
    assert out[0]["db_term"] < 0.2  # well separated


def test_cluster_quality_single_cluster_nulls(spark):
    from knot_another_pipeline_spark.operators.similarity import (
        cluster_quality,
    )

    rows = [(1, [0.0, 0.0], 0), (2, [2.0, 0.0], 0), (3, [1.0, 0.0], None)]
    df = spark.createDataFrame(rows, ["id", "v", "label"])
    out = cluster_quality(
        df, id_col="id", vec_col="v", label_col="label"
    ).collect()
    assert len(out) == 1  # null label dropped
    r = out[0]
    assert r["scatter"] == pytest.approx(1.0, abs=1e-6)
    assert r["nearest_label"] is None and r["db_term"] is None


# ---------------------------------------------------------------------------
# join_health
# ---------------------------------------------------------------------------


def test_join_health_orphans_dups_fanout(spark):
    from knot_another_pipeline_spark.operators.quality import join_health

    fact = spark.createDataFrame(
        [(1,), (1,), (2,), (3,), (None,)], ["fk"]
    )
    dim = spark.createDataFrame([(1,), (1,), (2,), (9,)], ["dk"])
    row = join_health(fact, dim, fact_key="fk", dim_key="dk").collect()[0]
    assert row["n_fact"] == 5 and row["n_fact_null_key"] == 1
    assert row["n_dim"] == 4 and row["n_dim_dup_keys"] == 1
    assert row["n_matched"] == 3  # two fk=1 rows + fk=2; fk=3, NULL miss
    assert row["n_orphan"] == 2
    assert row["match_rate"] == pytest.approx(0.6, abs=1e-6)
    # fk=1 rows fan out to 2 dim rows each: out_rows = 2+2+1 = 5
    assert row["avg_fanout"] == pytest.approx(5 / 3, abs=1e-6)
    assert row["max_fanout"] == 2


# ---------------------------------------------------------------------------
# sorted_neighborhood_pairs
# ---------------------------------------------------------------------------


def test_sorted_neighborhood_exact_pair_set(spark):
    from knot_another_pipeline_spark.operators.dedup import (
        sorted_neighborhood_pairs,
    )

    rows = [(i, f"k{i:02d}") for i in range(1, 9)]  # ranks = ids
    df = spark.createDataFrame(rows, ["id", "key"])
    out = sorted_neighborhood_pairs(
        df, id_col="id", sort_key_col="key", window=3
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    want = {
        (a, b)
        for a in range(1, 9)
        for b in range(a + 1, min(a + 3, 9))
    }
    assert got == want
    assert all(1 <= r["rank_gap"] <= 2 for r in out)
    # no duplicates from the two-block emit
    assert len(out) == len(got)
    with pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(
            df, id_col="id", sort_key_col="key", window=1
        )


# ---------------------------------------------------------------------------
# bootstrap_ci
# ---------------------------------------------------------------------------


def test_bootstrap_ci_brackets_mean_and_deterministic(spark):
    from knot_another_pipeline_spark.operators.quality import bootstrap_ci

    rows = [(i, float(100 + (i * 37) % 50)) for i in range(400)]
    df = spark.createDataFrame(rows, ["id", "x"])
    r1 = bootstrap_ci(df, id_col="id", value_col="x", reps=50).collect()[0]
    assert r1["n_rows"] == 400 and r1["reps"] == 50
    assert r1["boot_lo"] <= r1["mean"] <= r1["boot_hi"]
    # interval width sane: sd/sqrt(n) ~ 0.72 -> CI half-width ~1.5
    assert r1["boot_hi"] - r1["boot_lo"] < 6.0
    r2 = bootstrap_ci(
        df.repartition(13), id_col="id", value_col="x", reps=50
    ).collect()[0]
    assert (r1["boot_lo"], r1["boot_hi"]) == (r2["boot_lo"], r2["boot_hi"])
    with pytest.raises(ValueError, match="reps"):
        bootstrap_ci(df, id_col="id", value_col="x", reps=5)
    with pytest.raises(ValueError, match="level"):
        bootstrap_ci(df, id_col="id", value_col="x", level=1.0)


# ---------------------------------------------------------------------------
# categorical_psi
# ---------------------------------------------------------------------------


def test_categorical_psi_detects_shift(spark):
    from knot_another_pipeline_spark.operators.evaluation import (
        categorical_psi,
    )

    e = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 50, ["c"]
    )
    same = categorical_psi(e, e, "c").collect()[0]
    assert same["psi"] == pytest.approx(0.0, abs=1e-6)
    assert same["verdict"] == "stable" and same["n_levels"] == 2
    shifted = spark.createDataFrame(
        [("a",)] * 95 + [("c",)] * 5, ["c"]
    )
    row = categorical_psi(e, shifted, "c").collect()[0]
    assert row["verdict"] == "shifted" and row["n_levels"] == 3
    assert row["psi"] > 0.25


def test_categorical_psi_null_level(spark):
    from knot_another_pipeline_spark.operators.evaluation import (
        categorical_psi,
    )

    e = spark.createDataFrame([("a",), ("a",)], ["c"])
    a = spark.createDataFrame([("a",), (None,)], ["c"])
    row = categorical_psi(e, a, "c").collect()[0]
    assert row["n_levels"] == 2  # (null) is a real level
    assert row["psi"] > 0


# ---------------------------------------------------------------------------
# pca_power_iteration
# ---------------------------------------------------------------------------


def test_pca_power_finds_dominant_axis(spark):
    from knot_another_pipeline_spark.operators.similarity import (
        pca_power_iteration,
    )

    # variance 100x larger along x than y; expect loading ~ (1, 0)
    rows = [(i, [float(i - 10) * 10.0, float(i % 3) - 1.0]) for i in range(21)]
    df = spark.createDataFrame(rows, ["id", "v"])
    out = {r["dim"]: r for r in pca_power_iteration(
        df, id_col="id", vec_col="v", dim=2, iterations=4
    ).collect()}
    assert abs(out[0]["loading"]) > 0.999
    assert out[0]["loading"] > 0  # sign convention: dominant coord positive
    assert abs(out[1]["loading"]) < 0.05
    # eigenvalue ~ variance along x = avg((10i-100)^2) for i=0..20
    var_x = sum((10.0 * (i - 10)) ** 2 for i in range(21)) / 21
    assert out[0]["eigenvalue"] == pytest.approx(var_x, rel=0.05)
    with pytest.raises(ValueError, match="iterations"):
        pca_power_iteration(df, id_col="id", vec_col="v", dim=2, iterations=0)


def test_pca_power_deterministic_across_partitioning(spark):
    from knot_another_pipeline_spark.operators.similarity import (
        pca_power_iteration,
    )

    import random

    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 3), rng.gauss(0, 1), rng.gauss(0, 0.1)])
            for i in range(50)]
    df = spark.createDataFrame(rows, ["id", "v"])
    a = pca_power_iteration(
        df, id_col="id", vec_col="v", dim=3, iterations=3
    ).collect()
    b = pca_power_iteration(
        df.repartition(7), id_col="id", vec_col="v", dim=3, iterations=3
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# correlation_matrix
# ---------------------------------------------------------------------------


def test_correlation_matrix_hand_values(spark):
    from knot_another_pipeline_spark.operators.quality import (
        correlation_matrix,
    )

    rows = [(float(i), 2.0 * i + 1, float(-i), 5.0) for i in range(10)]
    df = spark.createDataFrame(rows, ["a", "b", "c", "d"])
    out = {(r["col_a"], r["col_b"]): r for r in correlation_matrix(
        df, cols=["a", "b", "c", "d"]
    ).collect()}
    assert len(out) == 6
    assert out[("a", "b")]["corr"] == pytest.approx(1.0, abs=1e-6)
    assert out[("a", "c")]["corr"] == pytest.approx(-1.0, abs=1e-6)
    assert out[("a", "d")]["corr"] is None  # constant column
    assert out[("a", "b")]["n"] == 10
    with pytest.raises(ValueError, match="cols"):
        correlation_matrix(df, cols=["a"])


def test_correlation_matrix_pairwise_complete(spark):
    from knot_another_pipeline_spark.operators.quality import (
        correlation_matrix,
    )

    rows = [(1.0, 1.0, None), (2.0, 2.0, 1.0), (3.0, None, 2.0),
            (4.0, 4.0, None)]
    df = spark.createDataFrame(rows, ["a", "b", "c"])
    out = {(r["col_a"], r["col_b"]): r for r in correlation_matrix(
        df, cols=["a", "b", "c"]
    ).collect()}
    assert out[("a", "b")]["n"] == 3  # row 3 dropped for this pair only
    assert out[("a", "c")]["n"] == 2
    assert out[("a", "b")]["corr"] == pytest.approx(1.0, abs=1e-6)


# ---------------------------------------------------------------------------
# effective_sample_size
# ---------------------------------------------------------------------------


def test_ess_uniform_equals_n_and_skew_collapses(spark):
    from knot_another_pipeline_spark.operators.sampling import (
        effective_sample_size,
    )

    rows = [("u", 1.0)] * 20 + [("s", 1.0)] * 9 + [("s", 1000.0)]
    rows += [("s", None), ("s", -2.0)]
    df = spark.createDataFrame(rows, ["g", "w"])
    out = {r["g"]: r for r in effective_sample_size(
        df, group_cols=["g"], weight_col="w"
    ).collect()}
    assert out["u"]["ess"] == pytest.approx(20.0, abs=1e-6)
    assert out["u"]["ess_ratio"] == pytest.approx(1.0, abs=1e-6)
    # one huge weight: ESS ~ (1009)^2/(9+1e6) ~ 1.018
    assert out["s"]["ess"] < 1.1
    assert out["s"]["n"] == 10 and out["s"]["n_excluded"] == 2
    assert out["s"]["max_w_share"] == pytest.approx(1000 / 1009, abs=1e-5)
    with pytest.raises(ValueError, match="group_cols"):
        effective_sample_size(df, group_cols=[], weight_col="w")


# ---------------------------------------------------------------------------
# slice_diversity
# ---------------------------------------------------------------------------


def test_slice_diversity_uniform_vs_skewed(spark):
    from knot_another_pipeline_spark.operators.quality import (
        slice_diversity,
    )

    rows = (
        [("u", "a")] * 5 + [("u", "b")] * 5
        + [("s", "a")] * 9 + [("s", "b")] * 1
        + [("one", "a")] * 4
    )
    df = spark.createDataFrame(rows, ["g", "c"])
    out = {r["g"]: r for r in slice_diversity(
        df, group_cols=["g"], category_col="c"
    ).collect()}
    assert out["u"]["entropy"] == pytest.approx(math.log(2), abs=1e-6)
    assert out["u"]["norm_entropy"] == pytest.approx(1.0, abs=1e-6)
    assert out["u"]["simpson"] == pytest.approx(0.5, abs=1e-6)
    assert out["s"]["top_share"] == pytest.approx(0.9, abs=1e-6)
    assert out["s"]["norm_entropy"] < 0.5
    assert out["one"]["n_levels"] == 1
    assert out["one"]["entropy"] == 0.0 and out["one"]["norm_entropy"] is None


# ---------------------------------------------------------------------------
# random_projection
# ---------------------------------------------------------------------------


def test_random_projection_preserves_distances_roughly(spark):
    from knot_another_pipeline_spark.operators.similarity import (
        random_projection,
    )

    import random

    rng = random.Random(11)
    vecs = {i: [rng.gauss(0, 1) for _ in range(32)] for i in range(20)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], ["id", "v"]
    )
    out = random_projection(
        df, id_col="id", vec_col="v", in_dim=32, out_dim=16
    ).collect()
    proj = {}
    for r in out:
        proj.setdefault(r["id"], {})[r["out_i"]] = r["value"]
    assert all(len(p) == 16 for p in proj.values())
    # norms preserved in expectation: ratio within a loose JL band
    import math as _m

    ratios = []
    for i, v in vecs.items():
        n_in = _m.sqrt(sum(x * x for x in v))
        n_out = _m.sqrt(sum(x * x for x in proj[i].values()))
        ratios.append(n_out / n_in)
    avg = sum(ratios) / len(ratios)
    assert 0.7 < avg < 1.3
    # determinism across partitioning
    again = random_projection(
        df.repartition(5), id_col="id", vec_col="v", in_dim=32, out_dim=16
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError, match="in_dim"):
        random_projection(df, id_col="id", vec_col="v", in_dim=0, out_dim=4)


# ---------------------------------------------------------------------------
# changepoint_detect
# ---------------------------------------------------------------------------


def test_changepoint_finds_level_shift(spark):
    from knot_another_pipeline_spark.operators.temporal import (
        changepoint_detect,
    )

    rows = [("a", i, 0.0 if i <= 10 else 5.0) for i in range(1, 21)]
    rows += [("flat", i, 2.0) for i in range(1, 6)]
    df = spark.createDataFrame(rows, ["s", "t", "x"])
    out = {r["series"]: r for r in changepoint_detect(
        df, series_col="s", order_col="t", value_col="x"
    ).collect()}
    a = out["a"]
    assert a["split_pos"] == 10 and a["split_order"] == 10
    assert a["sse_split"] == pytest.approx(0.0, abs=1e-6)
    assert a["gain"] == pytest.approx(a["sse_total"], abs=1e-6)
    assert a["gain"] > 0
    flat = out["flat"]
    assert flat["sse_total"] == pytest.approx(0.0, abs=1e-6)
    assert flat["split_pos"] == 1  # tie on cost -> earliest position


def test_changepoint_partition_invariant(spark):
    from knot_another_pipeline_spark.operators.temporal import (
        changepoint_detect,
    )

    import random

    rng = random.Random(5)
    rows = [("g", i, rng.uniform(0, 1) + (3 if i > 30 else 0))
            for i in range(1, 51)]
    df = spark.createDataFrame(rows, ["s", "t", "x"])
    a = changepoint_detect(
        df, series_col="s", order_col="t", value_col="x"
    ).collect()
    b = changepoint_detect(
        df.repartition(9), series_col="s", order_col="t", value_col="x"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert a[0]["split_pos"] == 30


# ---------------------------------------------------------------------------
# max_concurrency
# ---------------------------------------------------------------------------


def test_max_concurrency_halfopen_and_drops(spark):
    from knot_another_pipeline_spark.operators.temporal import (
        max_concurrency,
    )

    rows = [
        ("g", 0.0, 10.0),
        ("g", 5.0, 15.0),   # overlaps first -> 2 concurrent
        ("g", 10.0, 20.0),  # starts exactly when first ends: NOT 3
        ("g", 7.0, 7.0),    # zero-length -> dropped
        ("g", None, 5.0),   # null -> dropped
    ]
    df = spark.createDataFrame(rows, ["g", "s", "e"])
    row = max_concurrency(
        df, group_cols=["g"], start_col="s", end_col="e"
    ).collect()[0]
    assert row["n_intervals"] == 3 and row["n_dropped"] == 2
    assert row["max_concurrent"] == 2
    assert row["peak_time"] == 5.0  # earliest instant reaching the peak
    with pytest.raises(ValueError, match="group_cols"):
        max_concurrency(df, group_cols=[], start_col="s", end_col="e")


# ---------------------------------------------------------------------------
# weighted_quantiles
# ---------------------------------------------------------------------------


def test_weighted_quantiles_hand_values(spark):
    from knot_another_pipeline_spark.operators.quality import (
        weighted_quantiles,
    )

    # values 1..4 with weights 1,1,1,7 -> q50 and q75 pulled to 4
    rows = [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 1.0),
            ("g", 4.0, 7.0), ("g", 5.0, None), ("g", 6.0, -1.0)]
    df = spark.createDataFrame(rows, ["g", "v", "w"])
    row = weighted_quantiles(
        df, group_cols=["g"], value_col="v", weight_col="w",
        quantiles=[0.25, 0.5, 0.75],
    ).collect()[0]
    assert row["q25"] == 3.0  # cum 1,2,3,10; 0.25*10=2.5 -> v=3
    assert row["q50"] == 4.0
    assert row["q75"] == 4.0
    with pytest.raises(ValueError, match="quantiles"):
        weighted_quantiles(
            df, group_cols=["g"], value_col="v", weight_col="w",
            quantiles=[1.5],
        )


def test_weighted_quantiles_matches_weighted_median(spark):
    from knot_another_pipeline_spark.operators.quality import (
        weighted_median,
        weighted_quantiles,
    )

    rows = [("g", float(v), float(w))
            for v, w in [(10, 3), (20, 1), (30, 4), (40, 2)]]
    df = spark.createDataFrame(rows, ["g", "v", "w"])
    q = weighted_quantiles(
        df, group_cols=["g"], value_col="v", weight_col="w",
        quantiles=[0.5],
    ).collect()[0]
    m = weighted_median(
        df, group_cols=["g"], value_col="v", weight_col="w"
    ).collect()[0]
    assert q["q50"] == m["weighted_median"]  # same crossing definition


# ---------------------------------------------------------------------------
# ips_policy_value
# ---------------------------------------------------------------------------


def test_ips_recovers_known_policy_value(spark):
    from knot_another_pipeline_spark.operators.evaluation import (
        ips_policy_value,
    )

    # logging policy: a with p=0.5, b with p=0.5; rewards a->1, b->0
    # target policy always plays a -> true value 1.0
    rows = []
    for i in range(100):
        a = "a" if i % 2 == 0 else "b"
        rows.append((a, 0.5, 1.0 if a == "a" else 0.0, "a"))
    df = spark.createDataFrame(rows, ["act", "p", "r", "pol"])
    row = ips_policy_value(
        df, action_col="act", propensity_col="p", reward_col="r",
        policy_action_col="pol",
    ).collect()[0]
    assert row["n"] == 100 and row["match_rate"] == 0.5
    assert row["ips_value"] == pytest.approx(1.0, abs=1e-6)
    assert row["snips_value"] == pytest.approx(1.0, abs=1e-6)
    assert row["avg_logged_reward"] == pytest.approx(0.5, abs=1e-6)


def test_ips_drops_zero_propensity(spark):
    from knot_another_pipeline_spark.operators.evaluation import (
        ips_policy_value,
    )

    rows = [("a", 0.5, 1.0, "a"), ("a", 0.0, 1.0, "a"),
            ("a", None, 1.0, "a"), ("b", 0.5, None, "a")]
    df = spark.createDataFrame(rows, ["act", "p", "r", "pol"])
    row = ips_policy_value(
        df, action_col="act", propensity_col="p", reward_col="r",
        policy_action_col="pol",
    ).collect()[0]
    assert row["n"] == 1 and row["n_dropped"] == 3
    assert row["ips_value"] == pytest.approx(2.0, abs=1e-6)


# ---------------------------------------------------------------------------
# dedup_summary
# ---------------------------------------------------------------------------


def test_dedup_summary_histogram(spark):
    from knot_another_pipeline_spark.operators.dedup import dedup_summary

    docs = [
        (1, "alpha beta"), (2, "ALPHA  beta!"),  # same fingerprint
        (3, "unique one"), (4, "unique two"), (5, "unique three"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {r["group_size"]: r for r in dedup_summary(
        df, id_col="doc_id", text_col="text"
    ).collect()}
    assert out[1]["n_groups"] == 3 and out[2]["n_groups"] == 1
    assert out[2]["n_docs_in"] == 2
    assert out[1]["n_docs_total"] == 5 and out[1]["n_groups_total"] == 4
    assert out[1]["dup_rate"] == pytest.approx(0.2, abs=1e-6)
    assert out[2]["pct_of_corpus"] == pytest.approx(0.4, abs=1e-6)


# ---------------------------------------------------------------------------
# zipf_fit
# ---------------------------------------------------------------------------


def test_zipf_fit_recovers_synthetic_slope(spark):
    from knot_another_pipeline_spark.operators.text_analysis import zipf_fit

    # construct counts ~ 1000/r: token t{r} appears round(1000/r) times
    words = []
    for r in range(1, 31):
        words += [f"t{r:02d}"] * round(1000 / r)
    text = " ".join(words)
    df = spark.createDataFrame([(text,)], ["text"])
    row = zipf_fit(df, text_col="text", top_v=30).collect()[0]
    assert row["vocab_size"] == 30 and row["top_v_used"] == 30
    assert row["slope"] == pytest.approx(-1.0, abs=0.02)
    assert row["r2"] > 0.999
    with pytest.raises(ValueError, match="top_v"):
        zipf_fit(df, text_col="text", top_v=2)


# ---------------------------------------------------------------------------
# distinctive_terms
# ---------------------------------------------------------------------------


def test_distinctive_terms_finds_slice_vocabulary(spark):
    from knot_another_pipeline_spark.operators.text_analysis import (
        distinctive_terms,
    )

    rows = (
        [("web", "common filler " + "spark " * 5)] * 4
        + [("books", "common filler " + "novel " * 5)] * 4
    )
    df = spark.createDataFrame(rows, ["src", "text"])
    out = {(r["group"], r["rank"]): r["token"] for r in distinctive_terms(
        df, group_col="src", text_col="text", k=1, min_count=2
    ).collect()}
    assert out[("web", 1)] == "spark"
    assert out[("books", 1)] == "novel"
    with pytest.raises(ValueError, match="k must"):
        distinctive_terms(df, group_col="src", text_col="text", k=0)


# ---------------------------------------------------------------------------
# oov_rate
# ---------------------------------------------------------------------------


def test_oov_rate_and_good_turing(spark):
    from knot_another_pipeline_spark.operators.text_analysis import oov_rate

    train = spark.createDataFrame(
        [("en", "alpha beta gamma alpha beta alpha")], ["lang", "text"]
    )  # counts: alpha 3, beta 2, gamma 1 -> n1=1, N=6
    test = spark.createDataFrame(
        [("en", "alpha beta delta"), ("de", "zeta eta")],
        ["lang", "text"],
    )
    out = {r["lang"]: r for r in oov_rate(
        train, test, text_col="text", group_cols=["lang"], top_v=2
    ).collect()}
    # vocab = top-2 = {alpha, beta}; en test: delta OOV (1/3)
    en = out["en"]
    assert en["n_tokens"] == 3 and en["n_oov"] == 1
    assert en["oov_rate"] == pytest.approx(1 / 3, abs=1e-6)
    assert en["vocab_size"] == 2
    assert en["gt_unseen_mass"] == pytest.approx(1 / 6, abs=1e-6)
    de = out["de"]
    assert de["oov_rate"] == 1.0  # fully OOV slice localized
    with pytest.raises(ValueError, match="top_v"):
        oov_rate(train, test, text_col="text", group_cols=["lang"], top_v=0)


# ---------------------------------------------------------------------------
# join_cardinality_estimate
# ---------------------------------------------------------------------------


def test_join_cardinality_small_exact_and_fk_shape(spark):
    from knot_another_pipeline_spark.operators.relational import (
        join_cardinality_estimate,
    )

    # small sides (< k): sketch is exact, so the estimate is exact for
    # uniform multiplicity: 3 shared keys x 2 x 1 = 6 rows
    left = spark.createDataFrame(
        [(k, i) for k in [1, 2, 3, 4] for i in range(2)], ["k", "i"]
    )
    right = spark.createDataFrame([(2,), (3,), (4,), (9,)], ["k"])
    row = join_cardinality_estimate(
        left, right, left_key="k", right_key="k", k=64
    ).collect()[0]
    assert row["n_rows_a"] == 8 and row["n_rows_b"] == 4
    assert row["est_distinct_a"] == 4 and row["est_distinct_b"] == 4
    assert row["est_key_overlap"] == 3
    actual = left.join(right, "k").count()
    assert row["est_join_rows"] == actual == 6
    with pytest.raises(ValueError, match="k must"):
        join_cardinality_estimate(
            left, right, left_key="k", right_key="k", k=1
        )


def test_join_cardinality_estimates_at_sketch_scale(spark):
    from knot_another_pipeline_spark.operators.relational import (
        join_cardinality_estimate,
    )

    left = spark.range(0, 2000).selectExpr("id as k")
    right = spark.range(1000, 4000).selectExpr("id as k")
    row = join_cardinality_estimate(
        left, right, left_key="k", right_key="k", k=256
    ).collect()[0]
    # true overlap 1000; KMV error ~ 1/sqrt(254) ~ 6% per estimate
    assert abs(row["est_key_overlap"] - 1000) / 1000 < 0.4
    assert abs(row["est_join_rows"] - 1000) / 1000 < 0.4


# ---------------------------------------------------------------------------
# streaming_distinct_monitor
# ---------------------------------------------------------------------------


def test_streaming_distinct_monitor_matches_batch_hll(spark, tmp_path):
    from knot_another_pipeline_spark.operators.quality import hll_distinct
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        read_distinct_estimates,
        streaming_distinct_monitor,
    )

    src = tmp_path / "hll_src"
    state = str(tmp_path / "hll_state")
    ckpt = str(tmp_path / "hll_ckpt")
    schema = "g string, v long"
    rows1 = [("a", i) for i in range(400)] + [("b", i % 7) for i in range(50)]
    rows2 = [("a", i) for i in range(200, 700)] + [("b", 100 + i) for i in range(5)]

    def run_once():
        q = streaming_distinct_monitor(
            spark.readStream.schema(schema).parquet(str(src)),
            group_cols="g",
            value_col="v",
            state_path=state,
            checkpoint_path=ckpt,
            p=9,
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows1, schema).write.mode("append").parquet(str(src))
    run_once()
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(str(src))
    run_once()

    streamed = {
        r["g"]: r
        for r in read_distinct_estimates(
            spark, state, group_cols="g", p=9
        ).collect()
    }
    batch = {
        r["g"]: r
        for r in hll_distinct(
            spark.createDataFrame(rows1 + rows2, schema),
            group_cols=["g"],
            value_col="v",
            p=9,
        ).collect()
    }
    # exact parity: register merge by max == batch fold
    for g in ("a", "b"):
        assert streamed[g]["hll_estimate"] == batch[g]["hll_estimate"]
        assert streamed[g]["n_registers_hit"] == batch[g]["n_registers_hit"]
    # replay idempotence: re-running with no new data changes nothing
    run_once()
    again = {
        r["g"]: r["hll_estimate"]
        for r in read_distinct_estimates(
            spark, state, group_cols="g", p=9
        ).collect()
    }
    assert again == {g: streamed[g]["hll_estimate"] for g in streamed}


# ---------------------------------------------------------------------------
# dbscan_grid
# ---------------------------------------------------------------------------


def test_dbscan_grid_merges_adjacent_dense_cells(spark):
    from knot_another_pipeline_spark.operators.tracks import dbscan_grid

    rows = []
    # dense blob A: two adjacent cells (0,0) and (1,0), 5 pts each
    rows += [(0.5, 0.5)] * 5 + [(0.5, 1.5)] * 5
    # dense blob B: far-away cell (10, 10), 5 pts
    rows += [(10.5, 10.5)] * 5
    # sparse cell: below min_pts
    rows += [(5.5, 5.5)] * 2
    df = spark.createDataFrame(rows, ["lat", "lon"])
    out = {
        (r["cell_x"], r["cell_y"]): r
        for r in dbscan_grid(
            df, lat_col="lat", lon_col="lon", cell_deg=1.0, min_pts=3
        ).collect()
    }
    assert set(out) == {(0, 0), (1, 0), (10, 10)}
    # blob A cells share a cluster; blob B is its own singleton
    assert out[(0, 0)]["cluster"] == out[(1, 0)]["cluster"]
    assert out[(10, 10)]["cluster"] != out[(0, 0)]["cluster"]
    assert out[(10, 10)]["cluster"] == "10:10"
    assert out[(0, 0)]["n_points"] == 5
    with pytest.raises(ValueError, match="cell_deg"):
        dbscan_grid(df, lat_col="lat", lon_col="lon", cell_deg=0,
                    min_pts=3)
    with pytest.raises(ValueError, match="min_pts"):
        dbscan_grid(df, lat_col="lat", lon_col="lon", cell_deg=1.0,
                    min_pts=0)


def test_dbscan_grid_diagonal_adjacency_and_chain(spark):
    from knot_another_pipeline_spark.operators.tracks import dbscan_grid

    # diagonal chain (0,0)-(1,1)-(2,2): 8-neighborhood joins all three
    rows = []
    for c in range(3):
        rows += [(c + 0.5, c + 0.5)] * 4
    df = spark.createDataFrame(rows, ["lat", "lon"])
    out = dbscan_grid(
        df, lat_col="lat", lon_col="lon", cell_deg=1.0, min_pts=3
    ).collect()
    clusters = {r["cluster"] for r in out}
    assert len(out) == 3 and len(clusters) == 1


# ---------------------------------------------------------------------------
# quantile_normalize
# ---------------------------------------------------------------------------


def test_quantile_normalize_aligns_group_distributions(spark):
    from knot_another_pipeline_spark.operators.features import (
        quantile_normalize,
    )

    # group a: 1..5; group b: 101..105 (same shape, shifted)
    rows = [(i, "a", float(i)) for i in range(1, 6)]
    rows += [(10 + i, "b", float(100 + i)) for i in range(1, 6)]
    df = spark.createDataFrame(rows, ["id", "g", "v"])
    out = quantile_normalize(
        df, id_col="id", group_col="g", value_col="v"
    ).collect()
    norm = {}
    for r in out:
        norm.setdefault(r["group"], []).append(r["normalized"])
    # after normalization both groups carry the SAME value multiset
    assert sorted(norm["a"]) == sorted(norm["b"])
    # and the values are actual pooled observations
    pooled = {float(v) for _, _, v in rows}
    assert set(norm["a"]) <= pooled
    # monotonicity within a group
    by_val = sorted(
        (r["value"], r["normalized"]) for r in out if r["group"] == "a"
    )
    assert all(
        by_val[i][1] <= by_val[i + 1][1] for i in range(len(by_val) - 1)
    )


# ---------------------------------------------------------------------------
# proportion_test
# ---------------------------------------------------------------------------


def test_proportion_test_hand_values(spark):
    from knot_another_pipeline_spark.operators.quality import (
        proportion_test,
    )

    rows = (
        [("a", True)] * 60 + [("a", False)] * 40
        + [("b", True)] * 40 + [("b", False)] * 60
        + [("c", True)] * 5  # ignored group
    )
    df = spark.createDataFrame(rows, ["g", "y"])
    row = proportion_test(
        df, group_col="g", success_col="y", group_a="a", group_b="b"
    ).collect()[0]
    assert row["n_a"] == 100 and row["n_b"] == 100
    assert row["p_a"] == 0.6 and row["p_b"] == 0.4
    p = 0.5
    se = math.sqrt(p * (1 - p) * (1 / 100 + 1 / 100))
    assert row["z"] == pytest.approx(0.2 / se, abs=1e-5)
    assert row["significant_95"] is True  # z ~ 2.83
    assert row["significant_99"] is True


def test_proportion_test_degenerate_null_z(spark):
    from knot_another_pipeline_spark.operators.quality import (
        proportion_test,
    )

    rows = [("a", True)] * 5 + [("b", True)] * 5  # pool = 1, no variance
    df = spark.createDataFrame(rows, ["g", "y"])
    row = proportion_test(
        df, group_col="g", success_col="y", group_a="a", group_b="b"
    ).collect()[0]
    assert row["z"] is None and row["significant_95"] is None


# ---------------------------------------------------------------------------
# reweight_to_target
# ---------------------------------------------------------------------------


def test_reweight_to_target_shares_and_ess(spark):
    from knot_another_pipeline_spark.operators.sampling import (
        reweight_to_target,
    )

    rows = [("a",)] * 80 + [("b",)] * 20 + [("zzz",)] * 10
    df = spark.createDataFrame(rows, ["src"])
    out = {r["group"]: r for r in reweight_to_target(
        df, group_col="src", target_shares={"a": 0.5, "b": 0.5}
    ).collect()}
    assert set(out) == {"a", "b"}  # zzz not in target -> excluded
    assert out["a"]["observed_share"] == 0.8
    assert out["a"]["target_share"] == 0.5
    assert out["a"]["weight"] == pytest.approx(0.625, abs=1e-6)
    assert out["b"]["weight"] == pytest.approx(2.5, abs=1e-6)
    # ESS: weights (0.625 x80, 2.5 x20): (sum nw)^2 / sum nww
    snw = 80 * 0.625 + 20 * 2.5
    snww = 80 * 0.625**2 + 20 * 2.5**2
    assert out["a"]["ess"] == pytest.approx(snw**2 / snww, abs=1e-4)
    assert out["a"]["ess_ratio"] == pytest.approx(
        snw**2 / snww / 100, abs=1e-6
    )
    with pytest.raises(ValueError, match="target_shares"):
        reweight_to_target(df, group_col="src", target_shares={})
    with pytest.raises(ValueError, match=">= 0"):
        reweight_to_target(
            df, group_col="src", target_shares={"a": -1.0}
        )


# ---------------------------------------------------------------------------
# audience_overlap
# ---------------------------------------------------------------------------


def test_audience_overlap_hand_values(spark):
    from knot_another_pipeline_spark.operators.behavior import (
        audience_overlap,
    )

    rows = (
        [(u, "a") for u in range(1, 11)]       # A = 10 users
        + [(u, "b") for u in range(6, 16)]     # B = 10 users, 5 shared
        + [(1, "a"), (6, "b")]                  # duplicates -> deduped
        + [(None, "a"), (99, None)]             # nulls dropped
    )
    df = spark.createDataFrame(rows, ["u", "seg"])
    out = {(r["segment_a"], r["segment_b"]): r for r in audience_overlap(
        df, entity_col="u", segment_col="seg"
    ).collect()}
    ab = out[("a", "b")]
    assert ab["n_a"] == 10 and ab["n_b"] == 10 and ab["n_both"] == 5
    assert ab["containment_a_in_b"] == 0.5
    assert ab["containment_b_in_a"] == 0.5
    assert ab["jaccard"] == pytest.approx(5 / 15, abs=1e-6)


# ---------------------------------------------------------------------------
# cluster_purity
# ---------------------------------------------------------------------------


def test_cluster_purity_pure_vs_mixed(spark):
    from knot_another_pipeline_spark.operators.similarity import (
        cluster_purity,
    )

    # 2 well-separated directions; labels follow geometry -> high purity
    rows = []
    for i in range(20):
        rows.append((i, [1.0, 0.0, 0.01 * i], 0))
        rows.append((100 + i, [0.0, 1.0, 0.01 * i], 1))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = cluster_purity(
        df, id_col="vec_id", vec_col="embedding", label_col="label",
        num_centroids=4,
    ).collect()
    assert all(r["majority_share"] == 1.0 for r in out)
    assert out[0]["overall_purity"] == 1.0
    total = sum(r["n_vectors"] for r in out)
    assert total == 40
    # mixed labels: purity ~ majority share < 1
    mixed = spark.createDataFrame(
        [(i, [1.0, 0.0], i % 2) for i in range(10)],
        ["vec_id", "embedding", "label"],
    )
    m = cluster_purity(
        mixed, id_col="vec_id", vec_col="embedding", label_col="label",
        num_centroids=1,
    ).collect()
    assert len(m) == 1 and m[0]["n_labels"] == 2
    assert m[0]["majority_share"] == 0.5
    assert m[0]["majority_label"] == 0  # tie -> min label


# ---------------------------------------------------------------------------
# seasonal_naive_error
# ---------------------------------------------------------------------------


def test_seasonal_naive_error_exact_cycle_and_shift(spark):
    import datetime as dt

    from knot_another_pipeline_spark.operators.temporal import (
        seasonal_naive_error,
    )

    base = dt.date(2024, 1, 1)
    rows = []
    # series "exact": perfect weekly cycle -> zero error after warmup
    for i in range(21):
        rows.append(("exact", base + dt.timedelta(days=i),
                     float(10 + (i % 7))))
    # series "shift": +2 every week -> constant bias of +2
    for i in range(21):
        rows.append(("shift", base + dt.timedelta(days=i),
                     float(10 + 2 * (i // 7))))
    df = spark.createDataFrame(rows, ["s", "d", "x"])
    out = {r["series"]: r for r in seasonal_naive_error(
        df, series_col="s", date_col="d", value_col="x", period=7
    ).collect()}
    ex = out["exact"]
    assert ex["n_buckets"] == 21 and ex["n_scored"] == 14
    assert ex["mae"] == 0.0 and ex["bias"] == 0.0
    sh = out["shift"]
    assert sh["mae"] == 2.0 and sh["bias"] == 2.0
    assert sh["mape"] > 0
    with pytest.raises(ValueError, match="period"):
        seasonal_naive_error(
            df, series_col="s", date_col="d", value_col="x", period=0
        )


# ---------------------------------------------------------------------------
# profile_drift
# ---------------------------------------------------------------------------


def test_profile_drift_verdicts(spark):
    from knot_another_pipeline_spark.operators.quality import profile_drift

    base = spark.createDataFrame(
        [(i, "x", float(i)) for i in range(100)], ["id", "c", "v"]
    )
    # current: half the values NULL, id cardinality collapsed
    cur = spark.createDataFrame(
        [(i % 10, "x", float(i) if i % 2 == 0 else None)
         for i in range(100)],
        ["id", "c", "v"],
    )
    out = {r["col_name"]: r for r in profile_drift(
        base, cur, ["id", "c", "v"]
    ).collect()}
    assert out["v"]["verdict"] == "null_rate_drift"
    assert out["v"]["null_rate_delta"] == pytest.approx(0.5, abs=1e-6)
    assert out["id"]["verdict"] == "distinct_drift"
    assert out["id"]["distinct_ratio"] == pytest.approx(0.1, abs=1e-6)
    assert out["c"]["verdict"] == "ok"
    assert out["id"]["minmax_changed"] is True
    assert out["c"]["minmax_changed"] is False
    with pytest.raises(ValueError, match="tolerances"):
        profile_drift(base, cur, ["id"], null_rate_tol=0)


# ---------------------------------------------------------------------------
# fano_burstiness
# ---------------------------------------------------------------------------


def test_fano_steady_vs_bursty(spark):
    from knot_another_pipeline_spark.operators.quality import (
        fano_burstiness,
    )

    rows = []
    # steady: 5 events in each of 10 buckets -> var 0, fano 0
    for b in range(10):
        rows += [("steady", b)] * 5
    # bursty: 46 in one bucket, 1 in each of 9 -> fano >> 1
    rows += [("bursty", 0)] * 46
    for b in range(1, 10):
        rows += [("bursty", b)]
    # single bucket: undefined variance
    rows += [("one", 0)] * 7
    df = spark.createDataFrame(rows, ["g", "b"])
    out = {r["g"]: r for r in fano_burstiness(
        df, group_cols=["g"], bucket_col="b"
    ).collect()}
    assert out["steady"]["fano"] == 0.0
    assert out["steady"]["mean_count"] == 5.0
    assert out["bursty"]["fano"] > 5
    assert out["one"]["fano"] is None and out["one"]["var_count"] is None


# ---------------------------------------------------------------------------
# embedding_drift
# ---------------------------------------------------------------------------


def test_embedding_drift_detects_shift(spark):
    from knot_another_pipeline_spark.operators.similarity import (
        embedding_drift,
    )

    base = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(10)]
        + [(100 + i, [0.0, 1.0], 1) for i in range(10)],
        ["vec_id", "embedding", "label"],
    )
    # label 0 unchanged; label 1 doubled in norm and rotated slightly
    cur = spark.createDataFrame(
        [(i, [1.0, 0.0], 0) for i in range(10)]
        + [(100 + i, [0.4, 1.8], 1) for i in range(10)],
        ["vec_id", "embedding", "label"],
    )
    out = {r["group"]: r for r in embedding_drift(
        base, cur, id_col="vec_id", vec_col="embedding",
        label_col="label",
    ).collect()}
    assert out["0"]["centroid_shift"] == 0.0
    assert out["0"]["centroid_cosine"] == 1.0
    assert out["0"]["norm_ratio"] == 1.0
    assert out["1"]["centroid_shift"] > 0.8
    assert out["1"]["norm_ratio"] == pytest.approx(
        math.sqrt(0.4**2 + 1.8**2), abs=1e-5
    )
    assert 0.9 < out["1"]["centroid_cosine"] < 1.0


def test_embedding_drift_one_sided_group(spark):
    from knot_another_pipeline_spark.operators.similarity import (
        embedding_drift,
    )

    base = spark.createDataFrame(
        [(1, [1.0, 0.0], 0)], ["vec_id", "embedding", "label"]
    )
    cur = spark.createDataFrame(
        [(2, [1.0, 0.0], 5)], ["vec_id", "embedding", "label"]
    )
    out = {r["group"]: r for r in embedding_drift(
        base, cur, id_col="vec_id", vec_col="embedding",
        label_col="label",
    ).collect()}
    assert out["0"]["n_cur"] == 0 and out["0"]["centroid_shift"] is None
    assert out["5"]["n_base"] == 0


# ---------------------------------------------------------------------------
# rank_movers
# ---------------------------------------------------------------------------


def test_rank_movers_hand_values(spark):
    from knot_another_pipeline_spark.operators.relational import rank_movers

    rows = [
        # period p1: a=100 (r1), b=90 (r2), c=80 (r3), d=70 (r4)
        ("p1", "a", 100.0), ("p1", "b", 90.0), ("p1", "c", 80.0),
        ("p1", "d", 70.0),
        # period p2: d=100 (r1), a=90 (r2), b=80 (r3); c absent; e enters
        ("p2", "d", 100.0), ("p2", "a", 90.0), ("p2", "b", 80.0),
        ("p2", "e", 10.0),
    ]
    df = spark.createDataFrame(rows, ["m", "k", "v"])
    out = {r["key"]: r for r in rank_movers(
        df, period_col="m", key_col="k", value_col="v",
        period_a="p1", period_b="p2", k=10,
    ).collect()}
    assert out["d"]["rank_a"] == 4 and out["d"]["rank_b"] == 1
    assert out["d"]["rank_delta"] == 3
    assert out["a"]["rank_delta"] == -1
    assert out["c"]["rank_b"] is None and out["c"]["rank_delta"] is None
    assert out["e"]["rank_a"] is None
    # top-of-list ordering: biggest |delta| first
    ordered = rank_movers(
        df, period_col="m", key_col="k", value_col="v",
        period_a="p1", period_b="p2", k=2,
    ).collect()
    assert ordered[0]["key"] == "d"
    with pytest.raises(ValueError, match="k must"):
        rank_movers(
            df, period_col="m", key_col="k", value_col="v",
            period_a="p1", period_b="p2", k=0,
        )


# ---------------------------------------------------------------------------
# binned_mutual_info
# ---------------------------------------------------------------------------


def test_binned_mi_independent_vs_dependent(spark):
    from knot_another_pipeline_spark.operators.features import (
        binned_mutual_info,
    )

    # y = x exactly: MI == H(x) == H(y), NMI == 1
    rows = [(float(i % 4), float(i % 4)) for i in range(400)]
    df = spark.createDataFrame(rows, ["x", "y"])
    row = binned_mutual_info(
        df, x_col="x", y_col="y", x_bins=4, y_bins=4,
        x_lo=0.0, x_hi=4.0, y_lo=0.0, y_hi=4.0,
    ).collect()[0]
    assert row["nmi"] == pytest.approx(1.0, abs=1e-6)
    assert row["mi"] == pytest.approx(math.log(4), abs=1e-6)
    assert row["n_rows"] == 400 and row["n_dropped"] == 0
    # independent uniform grid: MI == 0 exactly
    indep = [(float(i % 4), float((i // 4) % 4)) for i in range(400)]
    df2 = spark.createDataFrame(indep, ["x", "y"])
    r2 = binned_mutual_info(
        df2, x_col="x", y_col="y", x_bins=4, y_bins=4,
        x_lo=0.0, x_hi=4.0, y_lo=0.0, y_hi=4.0,
    ).collect()[0]
    assert r2["mi"] == pytest.approx(0.0, abs=1e-6)
    # out-of-range / null rows are counted, not silently dropped
    df3 = spark.createDataFrame(
        rows + [(99.0, 1.0), (None, 1.0)], ["x", "y"]
    )
    r3 = binned_mutual_info(
        df3, x_col="x", y_col="y", x_bins=4, y_bins=4,
        x_lo=0.0, x_hi=4.0, y_lo=0.0, y_hi=4.0,
    ).collect()[0]
    assert r3["n_dropped"] == 2
    with pytest.raises(ValueError, match="bins"):
        binned_mutual_info(
            df, x_col="x", y_col="y", x_bins=1, y_bins=4,
            x_lo=0.0, x_hi=4.0, y_lo=0.0, y_hi=4.0,
        )


# ---------------------------------------------------------------------------
# dedup_pr_curve
# ---------------------------------------------------------------------------


def test_dedup_pr_curve_monotone_and_hand_checked(spark):
    from knot_another_pipeline_spark.operators.evaluation import (
        dedup_pr_curve,
    )

    scored = spark.createDataFrame(
        [
            (1, 2, 0.95), (2, 1, 0.90),  # dup orientation: max kept
            (3, 4, 0.80), (5, 6, 0.40), (7, 8, 0.20),
        ],
        ["id_a", "id_b", "s"],
    )
    truth = spark.createDataFrame(
        [(1, 2), (3, 4), (9, 10)], ["id_a", "id_b"]
    )
    out = {r["threshold"]: r for r in dedup_pr_curve(
        scored, truth, score_col="s", thresholds=[0.1, 0.5, 0.9]
    ).collect()}
    # at 0.1: all 4 canonical pairs predicted, 2 true -> P=0.5, R=2/3
    assert out[0.1]["n_pred"] == 4 and out[0.1]["tp"] == 2
    assert out[0.1]["precision"] == 0.5
    assert out[0.1]["recall"] == pytest.approx(2 / 3, abs=1e-6)
    # at 0.9: only (1,2) with max(0.95, 0.90)=0.95 -> P=1, R=1/3
    assert out[0.9]["n_pred"] == 1 and out[0.9]["precision"] == 1.0
    assert out[0.9]["recall"] == pytest.approx(1 / 3, abs=1e-6)
    # precision weakly increases along thresholds here; n_pred decreases
    assert out[0.1]["n_pred"] >= out[0.5]["n_pred"] >= out[0.9]["n_pred"]
    with pytest.raises(ValueError, match="thresholds"):
        dedup_pr_curve(scored, truth, score_col="s", thresholds=[])


# ---------------------------------------------------------------------------
# streaming_cms_monitor
# ---------------------------------------------------------------------------


def test_streaming_cms_monitor_matches_batch_sketch(spark, tmp_path):
    from knot_another_pipeline_spark.operators.quality import (
        cms_estimate,
        cms_sketch,
    )
    from knot_another_pipeline_spark.streaming.rollup_stream import (
        streaming_cms_monitor,
    )

    src = tmp_path / "cms_src"
    state = str(tmp_path / "cms_state")
    ckpt = str(tmp_path / "cms_ckpt")
    schema = "item string"
    rows1 = [("hot",)] * 50 + [(f"t{i}",) for i in range(30)]
    rows2 = [("hot",)] * 30 + [("warm",)] * 10

    def run_once():
        q = streaming_cms_monitor(
            spark.readStream.schema(schema).parquet(str(src)),
            item_col="item",
            state_path=state,
            checkpoint_path=ckpt,
            depth=4,
            width=256,
        )
        q.awaitTermination(120)

    spark.createDataFrame(rows1, schema).write.mode("append").parquet(str(src))
    run_once()
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(str(src))
    run_once()

    items = spark.createDataFrame(
        [("hot",), ("warm",), ("t3",), ("absent",)], ["item"]
    )
    streamed = {
        r["item"]: r["est_n"]
        for r in cms_estimate(
            spark.read.parquet(state), items, item_col="item",
            depth=4, width=256,
        ).collect()
    }
    batch = {
        r["item"]: r["est_n"]
        for r in cms_estimate(
            cms_sketch(
                spark.createDataFrame(rows1 + rows2, schema),
                item_col="item", depth=4, width=256,
            ),
            items, item_col="item", depth=4, width=256,
        ).collect()
    }
    assert streamed == batch  # sum-merge == one-shot sketch, exactly
    assert streamed["hot"] >= 80  # CMS never undercounts
    assert streamed["warm"] >= 10


# ---------------------------------------------------------------------------
# tfidf_cosine_pairs
# ---------------------------------------------------------------------------


def test_tfidf_cosine_weights_rare_terms(spark):
    from knot_another_pipeline_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )

    docs = [
        (1, "common common zygote mitochondria"),
        (2, "common common zygote mitochondria"),   # identical to 1
        (3, "common common other words"),
        (4, "unrelated text entirely here"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = {(r["id_a"], r["id_b"]): r for r in tfidf_cosine_pairs(
        df, id_col="doc_id", text_col="text", min_cosine=0.0
    ).collect()}
    assert out[(1, 2)]["cosine"] == pytest.approx(1.0, abs=1e-6)
    # (1,3) share only the common term -> clearly below the exact pair
    # (smoothed IDF keeps nonzero weight on common terms by design)
    assert out[(1, 3)]["cosine"] < 0.6
    assert (1, 4) not in out  # no shared tokens, never meet
    with pytest.raises(ValueError, match="min_cosine"):
        tfidf_cosine_pairs(
            df, id_col="doc_id", text_col="text", min_cosine=2.0
        )


def test_tfidf_cosine_df_cap_drops_hot_tokens(spark):
    from knot_another_pipeline_spark.operators.dedup import (
        tfidf_cosine_pairs,
    )

    docs = [(i, f"boiler plate unique{i}") for i in range(1, 6)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = tfidf_cosine_pairs(
        df, id_col="doc_id", text_col="text", min_cosine=0.0,
        max_doc_freq=2,
    ).collect()
    assert out == []  # only shared tokens have df=5 > 2


# ---------------------------------------------------------------------------
# wasserstein_drift
# ---------------------------------------------------------------------------


def test_wasserstein_shift_has_distance_units(spark):
    from knot_another_pipeline_spark.operators.quality import (
        wasserstein_drift,
    )

    e = spark.createDataFrame([(float(10 + i % 5),) for i in range(100)], ["v"])
    a = spark.createDataFrame([(float(30 + i % 5),) for i in range(100)], ["v"])
    row = wasserstein_drift(e, a, "v", bins=50, lo=0.0, hi=50.0).collect()[0]
    # distributions are identical shapes shifted by +20 -> W1 == 20
    assert row["w1"] == pytest.approx(20.0, abs=1.0)
    assert row["mean_shift"] == pytest.approx(20.0, abs=1.0)
    same = wasserstein_drift(e, e, "v", bins=50, lo=0.0, hi=50.0).collect()[0]
    assert same["w1"] == 0.0 and same["mean_shift"] == 0.0
    # out-of-range mass clamps to edge bins, not dropped
    oob = spark.createDataFrame([(999.0,)] * 100, ["v"])
    r2 = wasserstein_drift(e, oob, "v", bins=50, lo=0.0, hi=50.0).collect()[0]
    assert r2["n_actual"] == 100 and r2["w1"] > 30
    with pytest.raises(ValueError, match="bins"):
        wasserstein_drift(e, a, "v", bins=1, lo=0.0, hi=50.0)


# ---------------------------------------------------------------------------
# poisson_rate_ci
# ---------------------------------------------------------------------------


def test_poisson_rate_ci_hand_values(spark):
    from knot_another_pipeline_spark.operators.quality import (
        poisson_rate_ci,
    )

    df = spark.createDataFrame(
        [("a",)] * 100 + [("b",)] * 4, ["g"]
    )
    out = {r["g"]: r for r in poisson_rate_ci(
        df, group_cols=["g"], exposure=10.0
    ).collect()}
    z = 1.959963984540054
    assert out["a"]["rate"] == 10.0
    assert out["a"]["rate_lo"] == pytest.approx((100 - z * 10) / 10, abs=1e-5)
    assert out["a"]["rate_hi"] == pytest.approx((100 + z * 10) / 10, abs=1e-5)
    # small n: interval is wide relative to the rate
    b = out["b"]
    assert b["rate_hi"] - b["rate_lo"] > b["rate"]
    with pytest.raises(ValueError, match="exposure"):
        poisson_rate_ci(df, group_cols=["g"], exposure=0)


# ---------------------------------------------------------------------------
# track_length
# ---------------------------------------------------------------------------


def test_track_length_known_distance(spark):
    import datetime as dt

    from knot_another_pipeline_spark.operators.tracks import track_length

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # 1 degree of latitude ~ 111.19 km on the R=6371km sphere
    rows = [
        ("v1", t0, 0.0, 0.0),
        ("v1", t0 + dt.timedelta(hours=1), 1.0, 0.0),
        ("v1", t0 + dt.timedelta(hours=2), 2.0, 0.0),
        ("v2", t0, 10.0, 10.0),  # single fix: zero km, zero hours
    ]
    df = spark.createDataFrame(rows, ["uid", "ts", "lat", "lon"])
    out = {r["entity"]: r for r in track_length(
        df, entity_col="uid", ts_col="ts", lat_col="lat", lon_col="lon"
    ).collect()}
    v1 = out["v1"]
    assert v1["n_fixes"] == 3
    assert v1["total_km"] == pytest.approx(2 * 111.195, abs=0.1)
    assert v1["elapsed_hours"] == 2.0
    assert v1["avg_kmh"] == pytest.approx(111.195, abs=0.1)
    v2 = out["v2"]
    assert v2["total_km"] == 0.0 and v2["avg_kmh"] is None


# ---------------------------------------------------------------------------
# community_quality
# ---------------------------------------------------------------------------


def test_community_quality_two_cliques(spark):
    from knot_another_pipeline_spark.operators.graph import (
        community_quality,
    )

    # two triangles joined by one bridge edge
    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    assign = spark.createDataFrame(
        [(n, "A" if n <= 3 else "B") for n in range(1, 7)],
        ["node", "community"],
    )
    out = {r["community"]: r for r in community_quality(e, assign).collect()}
    a = out["A"]
    # m=7; A: 3 internal, 1 cut, volume = 2*3 + 1 = 7
    assert a["internal_edges"] == 3 and a["cut_edges"] == 1
    assert a["volume"] == 7 and a["n_nodes"] == 3
    assert a["conductance"] == pytest.approx(1 / 7, abs=1e-6)
    q = 2 * (3 / 7 - (7 / 14) ** 2)
    assert a["modularity"] == pytest.approx(q, abs=1e-5)
    assert a["modularity"] > 0.3  # clearly better than chance


def test_community_quality_random_split_near_zero_modularity(spark):
    from knot_another_pipeline_spark.operators.graph import (
        community_quality,
    )

    # complete graph on 6 nodes, arbitrary split: modularity ~ <= 0
    edges = [(i, j) for i in range(6) for j in range(i + 1, 6)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    assign = spark.createDataFrame(
        [(n, n % 2) for n in range(6)], ["node", "community"]
    )
    row = community_quality(e, assign).collect()[0]
    assert row["modularity"] <= 0.01
    # unassigned endpoints fold into a "(none)" community
    partial = spark.createDataFrame([(0, "X")], ["node", "community"])
    out = {r["community"] for r in community_quality(e, partial).collect()}
    assert "(none)" in out and "X" in out
