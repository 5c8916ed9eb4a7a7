"""Goldens for the in-engine model-evaluation metrics: exact
rank-form AUC (vs the pairwise definition), calibration bins, and
Gini (vs known closed forms)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0.1, 0.2, 0.5, 0.5, 0.9]),  # deliberate ties
            st.integers(min_value=0, max_value=1),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_group_auc_matches_pairwise_definition(spark, rows):
    """For ANY scored labeled multiset (ties included): the rank-form
    AUC equals the pairwise P(score_pos > score_neg) + 0.5 P(tie)."""
    from maston_spark.evaluation import group_auc

    df = spark.createDataFrame(
        [("g", float(s), int(y)) for s, y in rows], "g string, s double, y int"
    ).repartition(3)
    [r] = group_auc(df, "g", "s", "y").collect()
    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    if not pos or not neg:
        assert r.auc is None
        return
    wins = sum(1.0 if p > n else (0.5 if p == n else 0.0) for p in pos for n in neg)
    assert r.auc == pytest.approx(wins / (len(pos) * len(neg)), abs=1e-6)


def test_group_auc_drops_null_labels_and_scores(spark):
    """Regression (round-12 advice): rows with a NULL label were
    counted as NEGATIVES (count(*) - sum(y)) and their midranks
    entered the rank sums, silently skewing AUC. The null convention
    is COUNT(col)-style DROP — the AUC over (labeled, scored) rows
    only."""
    from maston_spark.evaluation import group_auc

    clean = [("g", 0.2, 0), ("g", 0.5, 1), ("g", 0.8, 1), ("g", 0.4, 0)]
    noisy = clean + [("g", 0.9, None), ("g", 0.1, None), ("g", None, 1)]
    df_clean = spark.createDataFrame(clean, "g string, s double, y int")
    df_noisy = spark.createDataFrame(noisy, "g string, s double, y int")
    [rc] = group_auc(df_clean, "g", "s", "y").collect()
    [rn] = group_auc(df_noisy, "g", "s", "y").collect()
    assert (rn.n_pos, rn.n_neg, rn.auc) == (rc.n_pos, rc.n_neg, rc.auc)
    assert rn.n_neg == 2  # NULL labels did NOT count as negatives


def test_group_gini_known_cases(spark):
    """Uniform values -> G = 0; one owner of everything (n=4) ->
    G = (n-1)/n = 0.75."""
    from maston_spark.evaluation import group_gini

    rows = [("u", 5)] * 6 + [("w", 0), ("w", 0), ("w", 0), ("w", 12)]
    df = spark.createDataFrame(rows, "g string, x int")
    out = {r.g: r.gini for r in group_gini(df, "g", "x").collect()}
    assert out["u"] == 0.0
    assert out["w"] == 0.75


def test_calibration_bins_exact_rates(spark):
    """Hand case: scores cluster in two bins with known positive
    rates; boundary score 1.0 clamps into the last bin."""
    from maston_spark.evaluation import calibration_bins

    rows = [(0.05, 0), (0.05, 0), (0.05, 1), (1.0, 1), (0.95, 1), (0.95, 0)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r.bin: (r.n_rows, r.pos_rate) for r in calibration_bins(df, "s", "y").collect()}
    assert out[0] == (3, pytest.approx(1 / 3, abs=1e-6))
    assert out[9] == (3, pytest.approx(2 / 3, abs=1e-6))


def test_cohens_kappa_textbook_case(spark):
    """Cohen 1960 textbook confusion matrix: diag (20, 15), off-diag
    (5, 10), N=50 -> po=0.7, pe=0.5, kappa=0.4; perfect constant
    agreement (pe=1) -> NULL."""
    from maston_spark.evaluation import cohens_kappa

    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5 + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    df = spark.createDataFrame(rows, "a string, b string")
    [r] = cohens_kappa(df, "a", "b").collect()
    assert (r.n_rows, r.po, r.pe, r.kappa) == (50, 0.7, 0.5, 0.4)
    [r2] = cohens_kappa(
        spark.createDataFrame([("k", "k")] * 9, "a string, b string"), "a", "b"
    ).collect()
    assert r2.kappa is None and r2.po == 1.0


@settings(max_examples=8, deadline=None)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),
            st.integers(min_value=0, max_value=8),
        ),
        min_size=3,
        max_size=30,
    )
)
def test_spearman_matches_scipy_free_reference(spark, pairs):
    """For ANY integer pairs (ties included): spearman_corr equals
    Pearson on midranks computed in plain python."""
    from maston_spark.evaluation import spearman_corr

    df = spark.createDataFrame(
        [("g", x, y) for x, y in pairs], "g string, x long, y long"
    ).repartition(3)
    [r] = spearman_corr(df, "g", "x", "y").collect()

    def midranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        out = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            mid = (i + 1 + j) / 2.0
            for t in range(i, j):
                out[order[t]] = mid
            i = j
        return out

    xs = midranks([x for x, _ in pairs])
    ys = midranks([y for _, y in pairs])
    n = len(pairs)
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys))
    vx = sum((a - mx) ** 2 for a in xs)
    vy = sum((b - my) ** 2 for b in ys)
    if vx == 0 or vy == 0:
        assert r.rho is None
    else:
        assert r.rho == pytest.approx(cov / (vx**0.5 * vy**0.5), abs=1e-6)


def test_wilson_interval_textbook_and_edges(spark):
    """Wilson 95% for 8/10 -> (0.49, 0.943) (textbook values); the
    n_pos=0 edge stays inside [0,1] with a nonzero upper bound."""
    from maston_spark.evaluation import wilson_interval

    rows = [("a", 1)] * 8 + [("a", 0)] * 2 + [("z", 0)] * 20
    df = spark.createDataFrame(rows, "g string, y int")
    out = {r.g: r for r in wilson_interval(df, "g", "y").collect()}
    a = out["a"]
    assert (a.n_rows, a.n_pos, a.rate) == (10, 8, 0.8)
    z95 = 1.959963984540054
    n, p = 10.0, 0.8
    z2 = z95 * z95
    center, denom = p + z2 / (2 * n), 1 + z2 / n
    margin = z95 * ((p * (1 - p) / n + z2 / (4 * n * n)) ** 0.5)
    assert abs(a.lo - (center - margin) / denom) < 1e-6
    assert abs(a.hi - (center + margin) / denom) < 1e-6
    z = out["z"]
    assert z.rate == 0.0 and z.lo == 0.0 and 0 < z.hi < 0.2


def test_cuped_removes_covariate_explained_imbalance(spark):
    """Hand experiment: y = 2x + effect(variant) + 0. With variant B
    unluckily assigned higher-x units, the raw means exaggerate the
    effect; CUPED with theta = cov/var = 2 recovers the true lift
    exactly."""
    from maston_spark.evaluation import cuped_adjusted_means

    rows = [
        # variant A: x in 1..4, effect 0 -> y = 2x
        ("A", 1.0, 2.0), ("A", 2.0, 4.0), ("A", 3.0, 6.0), ("A", 4.0, 8.0),
        # variant B: x in 3..6 (imbalanced), effect +1 -> y = 2x + 1
        ("B", 3.0, 7.0), ("B", 4.0, 9.0), ("B", 5.0, 11.0), ("B", 6.0, 13.0),
    ]
    df = spark.createDataFrame(rows, "variant string, x double, y double")
    out = {r.variant: r for r in cuped_adjusted_means(df, "variant", "y", "x").collect()}
    # pooled theta replays the exact regression arithmetic (the
    # pooled slope absorbs part of the confounded effect: 320/144,
    # not the within-variant 2.0 — standard CUPED behavior)
    assert out["A"].theta == round(320 / 144, 6) == out["B"].theta
    raw_gap = out["B"].mean_y - out["A"].mean_y
    adj_gap = out["B"].mean_y_cuped - out["A"].mean_y_cuped
    assert round(raw_gap, 6) == 5.0  # exaggerated by the x imbalance
    # exact python replay of the operator's closing expression
    theta, xbar = 320 / 144, 3.5
    exp_a = 5.0 - theta * (2.5 - xbar)
    exp_b = 10.0 - theta * (4.5 - xbar)
    assert out["A"].mean_y_cuped == round(exp_a, 6)
    assert out["B"].mean_y_cuped == round(exp_b, 6)
    # and the adjusted gap is far closer to the true +1 effect
    assert abs(adj_gap - 1.0) < abs(raw_gap - 1.0) / 5


def test_poisson_bootstrap_ci_brackets_true_mean_and_is_deterministic(spark):
    """The 95% CI brackets the sample mean on homogeneous data, is
    invariant to partitioning, and changes with the salt (different
    resample) while staying near the truth. Weight multiplicities
    average ~1 (Poisson(1))."""
    from maston_spark.evaluation import poisson_bootstrap_ci

    rows = [(i, 100.0 + (i % 21) - 10) for i in range(4000)]  # mean 100
    df = spark.createDataFrame(rows, "rid long, v double")
    [r1] = poisson_bootstrap_ci(df.repartition(3), "v", "rid", b=32).collect()
    [r2] = poisson_bootstrap_ci(df.repartition(17), "v", "rid", b=32).collect()
    assert (r1.est_mean, r1.ci_lo, r1.ci_hi) == (r2.est_mean, r2.ci_lo, r2.ci_hi)
    assert r1.n_replicates == 32
    assert r1.ci_lo <= 100.0 <= r1.ci_hi
    assert r1.ci_hi - r1.ci_lo < 2.0  # ~2*1.96*sd/sqrt(n) with sd~6
    [r3] = poisson_bootstrap_ci(df, "v", "rid", b=32, salt="other").collect()
    assert (r3.ci_lo, r3.ci_hi) != (r1.ci_lo, r1.ci_hi)
    assert r3.ci_lo <= 100.0 <= r3.ci_hi


def test_diff_in_diff_recovers_planted_effect(spark):
    """Treated units drift +5 like everyone, plus a planted +3
    treatment effect in the post period; DiD recovers exactly +3."""
    from maston_spark.evaluation import diff_in_diff

    rows = []
    for t in (0, 1):
        for i in range(50):
            base = 10.0 + (i % 7)
            rows.append((t, 0, base))
            rows.append((t, 1, base + 5.0 + (3.0 if t else 0.0)))
    df = spark.createDataFrame(rows, "t int, p int, y double")
    [r] = diff_in_diff(df, "t", "p", "y").collect()
    assert r.did == 3.0
    assert round(r.m_ctrl_post - r.m_ctrl_pre, 6) == 5.0


def test_mde_power_closed_form(spark):
    """Constant group -> sd 0, MDE 0; known-variance group matches
    the (z_a + z_b) * sqrt(2 var / n) closed form."""
    from maston_spark.evaluation import mde_power

    rows = [("c", 7.0)] * 40 + [("v", float(x)) for x in range(100)]
    df = spark.createDataFrame(rows, "g string, x double")
    out = {r.g: r for r in mde_power(df, "g", "x").collect()}
    assert out["c"].sd == 0.0 and out["c"].mde_abs == 0.0
    var = sum((x - 49.5) ** 2 for x in range(100)) / 100
    exp = (1.959963984540054 + 0.8416212335729143) * (2 * var / 100) ** 0.5
    assert abs(out["v"].mde_abs - exp) < 1e-6


def test_fleiss_kappa_textbook_invariants(spark):
    """Perfect unanimous agreement with MIXED categories -> kappa 1;
    constant single category -> NULL (pe = 1); the worked 2-category
    shape matches a plain-python replay of Fleiss' formulas."""
    from maston_spark.evaluation import fleiss_kappa

    perfect = spark.createDataFrame(
        [(3, 0)] * 6 + [(0, 3)] * 4, "a int, b int"
    )
    [r] = fleiss_kappa(perfect, ["a", "b"], 3).collect()
    assert r.p_bar == 1.0 and r.kappa == 1.0
    constant = spark.createDataFrame([(3, 0)] * 5, "a int, b int")
    [rc] = fleiss_kappa(constant, ["a", "b"], 3).collect()
    assert rc.kappa is None and rc.p_bar_e == 1.0
    mixed_rows = [(3, 0)] * 4 + [(2, 1)] * 3 + [(1, 2)] * 2 + [(0, 3)] * 1
    mixed = spark.createDataFrame(mixed_rows, "a int, b int")
    [rm] = fleiss_kappa(mixed, ["a", "b"], 3).collect()
    n, m = len(mixed_rows), 3
    pbar = sum(a * a + b * b - m for a, b in mixed_rows) / (n * m * (m - 1))
    ty = sum(a for a, _ in mixed_rows) / (n * m)
    pe = ty * ty + (1 - ty) * (1 - ty)
    assert rm.p_bar == round(pbar, 6)
    assert rm.kappa == round((pbar - pe) / (1 - pe), 6)


def test_srm_check_planted_mismatch_and_clean_split(spark):
    """700/300 against a 50/50 design -> chi2 = 2*(200^2/500) = 160,
    alarm on; exact 500/500 -> chi2 0, alarm off; a designed arm with
    zero traffic still chi-squares; a rogue observed arm raises."""
    from maston_spark.evaluation import srm_check

    skew = spark.createDataFrame(
        [(0,)] * 700 + [(1,)] * 300, "variant int"
    )
    rows = srm_check(skew, "variant", {0: 0.5, 1: 0.5}).collect()
    assert [r.n_obs for r in rows] == [700, 300]
    assert rows[0].chi2 == 160.0 and all(r.srm_detected for r in rows)
    clean = spark.createDataFrame([(0,)] * 500 + [(1,)] * 500, "variant int")
    rows = srm_check(clean, "variant", {0: 0.5, 1: 0.5}).collect()
    assert rows[0].chi2 == 0.0 and not any(r.srm_detected for r in rows)
    # designed-but-silent arm: all traffic on arm 0
    silent = spark.createDataFrame([(0,)] * 100, "variant int")
    rows = {r.variant: r for r in srm_check(silent, "variant", {0: 0.5, 1: 0.5}).collect()}
    assert rows[1].n_obs == 0 and rows[1].srm_detected
    import pytest as _pt

    with _pt.raises(Exception, match="not in the design"):
        srm_check(skew, "variant", {0: 1.0})
    with _pt.raises(ValueError, match="sum to 1"):
        srm_check(skew, "variant", {0: 0.7, 1: 0.7})


def test_jackknife_ratio_ci_degenerate_and_bracketing(spark):
    """Constant per-row ratio -> zero jackknife variance and a
    point CI at the ratio; heterogeneous rows -> CI brackets the
    plug-in ratio and the estimate is run-deterministic."""
    from maston_spark.evaluation import jackknife_ratio_ci

    const = spark.createDataFrame(
        [(i, 2.0 * (i + 1), float(i + 1)) for i in range(200)],
        "id int, num double, den double",
    )
    [r] = jackknife_ratio_ci(const, "num", "den", "id").collect()
    assert r.ratio == 2.0 and r.se_jack == 0.0
    assert r.ci_lo == 2.0 and r.ci_hi == 2.0 and r.n_rows == 200
    het = spark.createDataFrame(
        [(i, float((i * 7) % 13 + 1), float((i * 3) % 5 + 1)) for i in range(500)],
        "id int, num double, den double",
    )
    [a] = jackknife_ratio_ci(het, "num", "den", "id").collect()
    [b] = jackknife_ratio_ci(het, "num", "den", "id").collect()
    assert a == b
    assert a.ci_lo < a.ratio < a.ci_hi and a.se_jack > 0


def test_ndcg_at_k_known_rankings(spark):
    """Scorer that ranks exactly by relevance -> NDCG 1; a scorer
    that inverts it -> the hand-computed DCG ratio; a group with no
    relevant docs -> NULL ndcg and 0.0 mrr; MRR = 1/first-hit."""
    import math

    from maston_spark.evaluation import ndcg_at_k

    rels = [3, 2, 1, 0]
    perfect = spark.createDataFrame(
        [("g", i, 100 - i, rels[i]) for i in range(4)],
        "grp string, doc int, score int, rel int",
    )
    [r] = ndcg_at_k(perfect, "grp", "score", "rel", "doc", k=10).collect()
    assert r.ndcg_at_k == 1.0 and r.mrr == 1.0
    inverted = spark.createDataFrame(
        [("g", i, i, rels[i]) for i in range(4)],
        "grp string, doc int, score int, rel int",
    )
    [ri] = ndcg_at_k(inverted, "grp", "score", "rel", "doc", k=10).collect()
    disc = [1.0 / math.log2(rk + 1) for rk in range(1, 5)]
    dcg = sum(round(rel * d, 9) for rel, d in zip([0, 1, 2, 3], disc))
    idcg = sum(round(rel * d, 9) for rel, d in zip([3, 2, 1, 0], disc))
    assert ri.ndcg_at_k == round(dcg / idcg, 6)
    assert ri.mrr == 0.5  # first relevant (rel=1) sits at rank 2
    barren = spark.createDataFrame(
        [("g", i, i, 0) for i in range(3)],
        "grp string, doc int, score int, rel int",
    )
    [rb] = ndcg_at_k(barren, "grp", "score", "rel", "doc", k=10).collect()
    assert rb.ndcg_at_k is None and rb.mrr == 0.0


def test_krippendorff_alpha_hand_replay_with_missing(spark):
    """Small long-format matrix with missing ratings replayed in
    plain python against Krippendorff's nominal formulas; perfect
    agreement -> alpha 1; constant ratings -> NULL (De = 0)."""
    from maston_spark.evaluation import krippendorff_alpha

    # units: (unit, value) long rows; unit 4 has ONE rating -> drops
    data = [
        (1, "a"), (1, "a"), (1, "b"),
        (2, "b"), (2, "b"),
        (3, "a"), (3, "a"), (3, "a"), (3, "a"),
        (4, "b"),
    ]
    df = spark.createDataFrame(data, "unit int, val string")
    [r] = krippendorff_alpha(df, "unit", "val", max_raters=4).collect()
    kept = [u for u in data if u[0] != 4]
    units = {}
    for u, v in kept:
        units.setdefault(u, {}).setdefault(v, 0)
        units[u][v] += 1
    N = len(kept)
    d_o = sum(
        n * (sum(cs.values()) - n) / (sum(cs.values()) - 1)
        for cs in units.values()
        for n in cs.values()
    ) / N
    nc = {}
    for cs in units.values():
        for v, n in cs.items():
            nc[v] = nc.get(v, 0) + n
    d_e = sum(n * (N - n) for n in nc.values()) / (N * (N - 1))
    assert r.n_units == 3 and r.n_pairable == N
    assert r.d_o == round(d_o, 6) and r.d_e == round(d_e, 6)
    assert r.alpha == round(1 - d_o / d_e, 6)
    perfect = spark.createDataFrame(
        [(1, "a")] * 3 + [(2, "b")] * 3, "unit int, val string"
    )
    [rp] = krippendorff_alpha(perfect, "unit", "val", max_raters=3).collect()
    assert rp.alpha == 1.0
    constant = spark.createDataFrame([(1, "a")] * 3 + [(2, "a")] * 2, "unit int, val string")
    [rc] = krippendorff_alpha(constant, "unit", "val", max_raters=3).collect()
    assert rc.alpha is None


def test_eb_shrunk_rates_pulls_small_groups_harder(spark):
    """A 4-observation extreme group moves toward the pooled mean by
    more than a 400-observation group at the same raw rate; the
    posterior always sits between raw and pooled."""
    from maston_spark.evaluation import eb_shrunk_rates

    rows = (
        [("tiny", 1)] * 4
        + [("big", 1)] * 340 + [("big", 0)] * 60
        + [("mid_lo", 0)] * 40 + [("mid_lo", 1)] * 60
        + [("mid_hi", 1)] * 75 + [("mid_hi", 0)] * 25
    )
    df = spark.createDataFrame(rows, "src string, y int")
    out = {r.group: r for r in eb_shrunk_rates(df, "src", "y").collect()}
    pooled = (4 + 340 + 60 + 75) / (4 + 400 + 100 + 100)
    assert out["tiny"].rate_raw == 1.0 and out["big"].rate_raw == 0.85
    # every posterior sits between its raw rate and the pooled mean,
    # and the 4-observation group moves FARTHER than the 400-obs one
    for g in out.values():
        lo, hi = sorted([g.rate_raw, round(pooled, 6)])
        assert lo - 1e-6 <= g.rate_shrunk <= hi + 1e-6
    assert abs(out["tiny"].rate_shrunk - out["tiny"].rate_raw) > abs(
        out["big"].rate_shrunk - out["big"].rate_raw
    )
    # spread wider than beta can carry (M <= 0) -> honest NULLs
    wide = spark.createDataFrame(
        [("all1", 1)] * 50 + [("all0", 0)] * 50, "src string, y int"
    )
    for r in eb_shrunk_rates(wide, "src", "y").collect():
        assert r.prior_strength is None and r.rate_shrunk is None
    # degenerate: a single group -> no spread to fit -> NULL prior
    single = spark.createDataFrame([("only", 1), ("only", 0)], "src string, y int")
    [rs] = eb_shrunk_rates(single, "src", "y").collect()
    assert rs.prior_strength is None and rs.rate_shrunk is None


def test_kaplan_meier_textbook_curve(spark):
    """Hand-computed product-limit curve with censoring; a final
    time where everyone at risk dies closes the curve at exactly
    0.0; censored subjects leave the risk set without killing S."""
    from maston_spark.evaluation import kaplan_meier

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 0), (3, 1), (4, 0)], "t int, e int"
    )
    rows = {r.t: r for r in kaplan_meier(df, "t", "e").collect()}
    assert rows[1].n_risk == 5 and rows[1].survival == 0.8
    assert rows[2].n_risk == 4 and rows[2].n_censored == 1
    assert rows[2].survival == round(0.8 * 0.75, 6)
    assert rows[3].n_risk == 2 and rows[3].survival == round(0.8 * 0.75 * 0.5, 6)
    assert rows[4].n_risk == 1 and rows[4].n_events == 0
    assert rows[4].survival == rows[3].survival  # censoring alone never drops S
    total_death = spark.createDataFrame([(1, 1), (2, 1), (2, 1)], "t int, e int")
    out = {r.t: r for r in kaplan_meier(total_death, "t", "e").collect()}
    assert out[2].survival == 0.0  # d = n at the last time: exact zero


def test_psi_drift_zero_on_identical_and_fires_on_shift(spark):
    """Identical samples -> PSI exactly 0; a shifted current sample
    -> PSI above the 0.25 action threshold; bin proportions are
    Laplace-smoothed so empty bins stay finite."""
    from maston_spark.profiling import psi_drift

    ref = spark.createDataFrame([(float(i % 100),) for i in range(1000)], "v double")
    same = psi_drift(ref, ref, "v", n_bins=10).collect()
    assert all(r.psi == 0.0 and r.psi_term == 0.0 for r in same)
    shifted = spark.createDataFrame(
        [(float(i % 100) + 60.0,) for i in range(1000)], "v double"
    )
    out = psi_drift(ref, shifted, "v", n_bins=10).collect()
    assert len(out) == 10
    assert out[0].psi > 0.25
    assert all(r.p_ref > 0 and r.p_cur > 0 for r in out)  # smoothing


def test_mutual_information_independence_and_identity(spark):
    """Independent columns -> MI ~ 0 (and tiny vs the entropies);
    identical columns -> MI equals the entropy and NMI = 1; a
    constant column -> NULL nmi."""
    from maston_spark.profiling import mutual_information

    indep = spark.createDataFrame(
        [(str(i % 4), str((i // 4) % 5)) for i in range(400)], "a string, b string"
    )
    [ri] = mutual_information(indep, "a", "b").collect()
    assert abs(ri.mi) < 1e-6 and ri.h_a > 1.0 and ri.h_b > 1.0
    same = spark.createDataFrame(
        [(str(i % 5), str(i % 5)) for i in range(500)], "a string, b string"
    )
    [rs] = mutual_information(same, "a", "b").collect()
    assert rs.mi == rs.h_a == rs.h_b and rs.nmi == 1.0
    const = spark.createDataFrame(
        [("x", str(i % 3)) for i in range(30)], "a string, b string"
    )
    [rc] = mutual_information(const, "a", "b").collect()
    assert rc.h_a == 0.0 and rc.nmi is None


def test_two_proportion_ztest_known_case(spark):
    """Hand case: 40/100 vs 60/100 -> z = 0.2/sqrt(0.25)... computed
    in plain python; missing side and degenerate pooled rate emit
    NULL z and NULL flags stay non-crashing."""
    from maston_spark.evaluation import two_proportion_ztest

    rows = (
        [("g", 0, 1)] * 40 + [("g", 0, 0)] * 60
        + [("g", 1, 1)] * 60 + [("g", 1, 0)] * 40
        + [("one_side", 0, 1)] * 10
        + [("all_pos", 0, 1)] * 5 + [("all_pos", 1, 1)] * 5
    )
    df = spark.createDataFrame(rows, "g string, s int, y int")
    out = {r.group: r for r in two_proportion_ztest(df, "g", "s", "y").collect()}
    g = out["g"]
    pp = 0.5
    z = (0.6 - 0.4) / (pp * (1 - pp) * (1 / 100 + 1 / 100)) ** 0.5
    assert g.z == round(z, 6) and g.significant_95
    assert not g.significant_999  # z ~ 2.83 < 3.29
    assert out["one_side"].z is None and out["one_side"].p_1 is None
    assert out["all_pos"].z is None  # pooled p = 1: zero variance


def test_rbo_at_k_identity_disjoint_and_known(spark):
    """Identical rankings -> RBO exactly 1; disjoint top-k -> 0 (and
    the group still emits); a single swap at the bottom scores higher
    than a swap at the top (top-weighting)."""
    from maston_spark.evaluation import rbo_at_k

    def ranks(items):
        return spark.createDataFrame(
            [("g", it, i + 1) for i, it in enumerate(items)],
            "g string, item string, r int",
        )

    base = [f"d{i}" for i in range(5)]
    [ri] = rbo_at_k(ranks(base), ranks(base), "g", "item", "r", k=5, p=0.9).collect()
    assert ri.rbo_at_k == 1.0 and ri.overlap_at_k == 5
    other = [f"x{i}" for i in range(5)]
    [rd] = rbo_at_k(ranks(base), ranks(other), "g", "item", "r", k=5, p=0.9).collect()
    assert rd.rbo_at_k == 0.0 and rd.overlap_at_k == 0
    top_swap = ["d1", "d0"] + base[2:]
    bot_swap = base[:3] + ["d4", "d3"]
    [rt] = rbo_at_k(ranks(base), ranks(top_swap), "g", "item", "r", k=5, p=0.9).collect()
    [rb] = rbo_at_k(ranks(base), ranks(bot_swap), "g", "item", "r", k=5, p=0.9).collect()
    assert rb.rbo_at_k > rt.rbo_at_k
    assert rt.overlap_at_k == rb.overlap_at_k == 5


def test_split_conformal_textbook_index_and_coverage(spark):
    """n_cal=9, alpha=0.1 -> q_index = ceil(10*0.9) = 9 (the 9th of
    9 residuals), guarantee 0.9; coverage counts eval residuals
    <= qhat exactly; a too-small calibration set (q_index > n)
    certifies nothing (NULL qhat and coverage)."""
    from maston_spark.evaluation import split_conformal_interval

    cal = spark.createDataFrame(
        [(float(i), 0.0) for i in range(1, 10)], "y double, p double"
    )  # residuals 1..9
    ev = spark.createDataFrame(
        [(5.0, 0.0), (9.0, 0.0), (20.0, 0.0), (9.5, 0.0)], "y double, p double"
    )
    [r] = split_conformal_interval(cal, ev, "y", "p", alpha=0.1).collect()
    assert (r.n_cal, r.q_index, r.qhat, r.guarantee) == (9, 9, 9.0, 0.9)
    # covered: 5 <= 9 and 9 <= 9; out: 9.5, 20 -> exactly 2/4
    assert r.n_eval == 4 and r.empirical_coverage == 0.5
    tiny = spark.createDataFrame([(1.0, 0.0)], "y double, p double")
    [rt] = split_conformal_interval(tiny, ev, "y", "p", alpha=0.1).collect()
    assert rt.qhat is None and rt.empirical_coverage is None


def test_logrank_textbook_hand_replay(spark):
    """Small two-group censored sample replayed in plain python
    against the Mantel O/E/V formulas; identical groups -> chi2 ~ 0
    flags False; a NULL-variance input (no comparable event time)
    emits NULL chi2 with False flags."""
    from maston_spark.evaluation import logrank_test

    data = [
        (1, 1, 1), (1, 2, 1), (1, 4, 0),
        (0, 2, 1), (0, 3, 1), (0, 4, 1), (0, 5, 0),
    ]
    df = spark.createDataFrame(data, "g int, t int, e int")
    [r] = logrank_test(df, "g", "t", "e").collect()
    # plain-python replay
    times = sorted({t for _, t, e in data if any(
        ee for gg, tt, ee in data if tt == t)})
    o1 = e1 = v = 0.0
    for t in sorted({t for _, t, _ in data}):
        n1 = sum(1 for g, tt, _ in data if g == 1 and tt >= t)
        n0 = sum(1 for g, tt, _ in data if g == 0 and tt >= t)
        d1 = sum(e for g, tt, e in data if g == 1 and tt == t)
        d0 = sum(e for g, tt, e in data if g == 0 and tt == t)
        dt, nt = d1 + d0, n1 + n0
        if dt == 0:
            continue
        o1 += d1
        e1 += round(dt * n1 / nt, 9)
        if nt > 1:
            v += round(dt * (n1 / nt) * (1 - n1 / nt) * (nt - dt) / (nt - 1), 9)
    assert r.o_1 == o1 and r.e_1 == round(e1, 6) and r.v == round(v, 6)
    assert r.chi2 == round((o1 - round(e1, 6)) ** 2 / round(v, 6), 6)
    # all-censored: cohort sizes still known, zero observed events,
    # zero variance -> NULL chi2 with False flags
    cens = spark.createDataFrame([(0, 3, 0), (1, 5, 0)], "g int, t int, e int")
    [rc] = logrank_test(cens, "g", "t", "e").collect()
    assert (rc.n_0, rc.n_1, rc.o_1, rc.v) == (1, 1, 0, 0.0)
    assert rc.chi2 is None and not rc.significant_95
    # negative durations (clock skew) are dropped, not ranked first
    skew = spark.createDataFrame(
        data + [(1, -5, 1)], "g int, t int, e int"
    )
    [rs] = logrank_test(skew, "g", "t", "e").collect()
    assert (rs.o_1, rs.e_1, rs.v, rs.chi2) == (r.o_1, r.e_1, r.v, r.chi2)


def test_krippendorff_rejects_overfull_units(spark):
    """A unit carrying more ratings than max_raters would silently
    truncate the lcm-exact fold (6 DIV 5 = 1, understating
    disagreement ~17%) — the operator must fail loudly instead."""
    import pytest as _pt

    from maston_spark.evaluation import krippendorff_alpha

    ok = [(1, "a")] * 2 + [(2, "b")] * 3
    overfull = ok + [(3, "a")] * 6  # unit 3: 6 ratings > max_raters=4
    df = spark.createDataFrame(overfull, "unit int, val string")
    with _pt.raises(Exception, match="more than 4 ratings"):
        krippendorff_alpha(df, "unit", "val", max_raters=4).collect()
    # the clean frame still computes
    good = krippendorff_alpha(
        spark.createDataFrame(ok, "unit int, val string"), "unit", "val", 4
    ).collect()
    assert len(good) == 1


def test_kaplan_meier_drops_negative_durations(spark):
    """Clock-skew negatives must not enter the risk set as the
    earliest 'time'."""
    from maston_spark.evaluation import kaplan_meier

    clean = spark.createDataFrame([(1, 1), (2, 1)], "t int, e int")
    skewed = spark.createDataFrame(
        [(1, 1), (2, 1), (-7, 1)], "t int, e int"
    )
    assert (
        kaplan_meier(clean, "t", "e").collect()
        == kaplan_meier(skewed, "t", "e").collect()
    )


@settings(max_examples=6, deadline=None)
@given(
    perm=st.permutations(list(range(8))),
    rels=st.lists(st.integers(min_value=0, max_value=3), min_size=8, max_size=8),
)
def test_ndcg_matches_plain_python_reference(spark, perm, rels):
    """For ANY scored permutation and relevance grades: ndcg_at_k
    equals the plain-python DCG/IDCG replay (same per-term 9-grid
    rounding), and MRR is 1/first-relevant-rank."""
    import math

    from maston_spark.evaluation import ndcg_at_k

    k = 5
    rows = [("g", i, perm[i], rels[i]) for i in range(8)]
    df = spark.createDataFrame(rows, "grp string, doc int, score int, rel int")
    [r] = ndcg_at_k(df, "grp", "score", "rel", "doc", k=k).collect()
    by_score = sorted(rows, key=lambda t: (-t[2], t[1]))
    by_rel = sorted(rows, key=lambda t: (-t[3], t[1]))
    disc = [1.0 / math.log2(d + 1) for d in range(1, k + 1)]
    dcg = round(sum(round(t[3] * disc[i], 9) for i, t in enumerate(by_score[:k])), 9)
    idcg = round(sum(round(t[3] * disc[i], 9) for i, t in enumerate(by_rel[:k])), 9)
    if idcg > 0:
        assert r.ndcg_at_k == round(dcg / idcg, 6)
    else:
        assert r.ndcg_at_k is None
    first = next((i + 1 for i, t in enumerate(by_score[:k]) if t[3] > 0), None)
    assert r.mrr == (round(1.0 / first, 6) if first else 0.0)


@settings(max_examples=6, deadline=None)
@given(
    pa=st.permutations(list(range(6))),
    pb=st.permutations(list(range(6))),
)
def test_rbo_matches_plain_python_reference(spark, pa, pb):
    """For ANY pair of rankings over a shared universe: rbo_at_k
    equals the truncated-RBO python replay (normalized geometric
    weights, agreement from max-rank entry depths)."""
    from maston_spark.evaluation import rbo_at_k

    k, p = 4, 0.9

    def ranks(perm):
        return spark.createDataFrame(
            [("g", f"d{item}", i + 1) for i, item in enumerate(perm)],
            "g string, item string, r int",
        )

    [r] = rbo_at_k(ranks(pa), ranks(pb), "g", "item", "r", k=k, p=p).collect()
    ra = {f"d{item}": i + 1 for i, item in enumerate(pa) if i < k}
    rb = {f"d{item}": i + 1 for i, item in enumerate(pb) if i < k}
    shared = set(ra) & set(rb)
    wsum = sum(p ** (d - 1) for d in range(1, k + 1))
    w = [p ** (d - 1) / wsum for d in range(1, k + 1)]
    tailw = [sum(w[d - 1] / d for d in range(m, k + 1)) for m in range(1, k + 1)]
    expect = round(
        sum(round(tailw[max(ra[i], rb[i]) - 1], 9) for i in shared), 6
    )
    assert r.overlap_at_k == len(shared)
    assert r.rbo_at_k == expect


def test_brier_decomposition_hand_case_and_identity(spark):
    """Hand case on two discrete forecast values: brier equals the
    plain mean of (s-y)^2; with forecasts constant within bins the
    Murphy identity REL - RES + UNC reproduces the Brier score
    EXACTLY (no within-bin variance)."""
    from maston_spark.evaluation import brier_decomposition

    rows = [(0.25, 1)] * 3 + [(0.25, 0)] * 7 + [(0.85, 1)] * 8 + [(0.85, 0)] * 2
    df = spark.createDataFrame(rows, "s double, y int")
    [r] = brier_decomposition(df, "s", "y", n_bins=10).collect()
    brier = sum((s - y) ** 2 for s, y in rows) / len(rows)
    assert r.brier == round(brier, 6)
    obar = 11 / 20
    rel = (10 * (0.25 - 0.3) ** 2 + 10 * (0.85 - 0.8) ** 2) / 20
    res = (10 * (0.3 - obar) ** 2 + 10 * (0.8 - obar) ** 2) / 20
    unc = obar * (1 - obar)
    assert r.reliability == round(rel, 6)
    assert r.resolution == round(res, 6)
    assert r.uncertainty == round(unc, 6)
    # discrete forecasts: the decomposition IS the Brier score
    assert r.brier_decomposed == r.brier == round(rel - res + unc, 6)


def test_poisson_bootstrap_ci_accepts_any_b_and_caller_split_hint(spark):
    """b need not be a multiple of 4 (lanes come in md5 blocks of 4;
    replicates >= b drop): b=10 yields 10 replicates, deterministic
    across partitionings, and its replicate set is a strict prefix of
    b=12's (same salt, same block hashes). b < 8 still raises."""
    import pytest as _pt

    from maston_spark.evaluation import poisson_bootstrap_ci

    rows = [(i, 50.0 + (i % 11)) for i in range(2000)]
    df = spark.createDataFrame(rows, "rid long, v double")
    [r1] = poisson_bootstrap_ci(df.repartition(3), "v", "rid", b=10).collect()
    [r2] = poisson_bootstrap_ci(
        df.repartition(13), "v", "rid", b=10, input_splits=13
    ).collect()
    assert r1.n_replicates == 10
    assert (r1.est_mean, r1.ci_lo, r1.ci_hi) == (r2.est_mean, r2.ci_lo, r2.ci_hi)
    assert r1.ci_lo <= 55.0 <= r1.ci_hi
    with _pt.raises(ValueError, match="at least 8"):
        poisson_bootstrap_ci(df, "v", "rid", b=7)


def test_srm_from_counts_rogue_arm_raises_directly(spark):
    """The fail-loud rogue-arm contract lives INSIDE srm_from_counts:
    a direct caller with an observed arm missing from the design gets
    a raise, not a silently understated chi-square."""
    import pytest as _pt

    from maston_spark.evaluation import srm_from_counts

    counts = spark.createDataFrame(
        [("a", 500), ("b", 480), ("rogue", 20)], "variant string, n_obs long"
    )
    with _pt.raises(ValueError, match="not in the design"):
        srm_from_counts(counts, {"a": 0.5, "b": 0.5})
    clean = spark.createDataFrame(
        [("a", 500), ("b", 500)], "variant string, n_obs long"
    )
    rows = srm_from_counts(clean, {"a": 0.5, "b": 0.5}).collect()
    assert rows[0].chi2 == 0.0 and not any(r.srm_detected for r in rows)


def test_mann_whitney_matches_plain_python_with_ties(spark):
    """Hand data with heavy ties: U, AUC and the tie-corrected z
    match a plain-python replay of the midrank formulas; a clean
    separation gives AUC 1 and positive z."""
    from maston_spark.evaluation import mann_whitney_u

    xs0 = [1.0, 2.0, 2.0, 3.0, 5.0, 5.0, 5.0, 8.0]
    xs1 = [2.0, 4.0, 5.0, 6.0, 6.0, 9.0, 9.0]
    rows = [(0, v) for v in xs0] + [(1, v) for v in xs1]
    df = spark.createDataFrame(rows, "g int, v double")
    [r] = mann_whitney_u(df, "g", "v").collect()
    # plain-python midrank replay
    allv = sorted(xs0 + xs1)
    import collections

    cnt = collections.Counter(allv)
    rank_of = {}
    pos = 1
    for v in sorted(cnt):
        c = cnt[v]
        rank_of[v] = pos + (c - 1) / 2
        pos += c
    r1 = sum(rank_of[v] for v in xs1)
    n0, n1 = len(xs0), len(xs1)
    u1 = r1 - n1 * (n1 + 1) / 2
    n = n0 + n1
    tt = sum(c**3 - c for c in cnt.values())
    var = n0 * n1 / 12 * ((n + 1) - tt / (n * (n - 1)))
    z = (u1 - n0 * n1 / 2) / var**0.5
    assert (r.n_0, r.n_1) == (n0, n1)
    assert r.u_1 == u1
    assert r.auc_1 == round(u1 / (n0 * n1), 6)
    assert abs(r.z - z) < 1e-6
    sep = spark.createDataFrame(
        [(0, float(v)) for v in range(10)] + [(1, float(v + 100)) for v in range(10)],
        "g int, v double",
    )
    [rs] = mann_whitney_u(sep, "g", "v").collect()
    assert rs.auc_1 == 1.0 and rs.z > 3


def test_welch_ttest_known_case_and_guards(spark):
    """Equal-variance equal-n case reduces to the pooled t; the
    Satterthwaite df matches the closed form; constant-both-arms
    emits NULL t."""
    from maston_spark.evaluation import welch_ttest

    xs0 = [float(x) for x in (1, 2, 3, 4, 5, 6)]
    xs1 = [float(x + 2) for x in (1, 2, 3, 4, 5, 6)]
    df = spark.createDataFrame(
        [(0, v) for v in xs0] + [(1, v) for v in xs1], "g int, v double"
    )
    [r] = welch_ttest(df, "g", "v").collect()
    import statistics

    v0, v1 = statistics.variance(xs0), statistics.variance(xs1)
    n0, n1 = len(xs0), len(xs1)
    se2 = v0 / n0 + v1 / n1
    t = (statistics.mean(xs1) - statistics.mean(xs0)) / se2**0.5
    dfw = se2 * se2 / ((v0 / n0) ** 2 / (n0 - 1) + (v1 / n1) ** 2 / (n1 - 1))
    assert abs(r.t_stat - t) < 1e-6 and abs(r.df_welch - dfw) < 1e-5
    assert r.mean_0 == 3.5 and r.mean_1 == 5.5
    const = spark.createDataFrame(
        [(0, 1.0)] * 5 + [(1, 1.0)] * 5, "g int, v double"
    )
    [rc] = welch_ttest(const, "g", "v").collect()
    assert rc.t_stat is None and rc.df_welch is None


def test_anova_f_matches_plain_python(spark):
    """Three planted groups: SSB/SSW/F match the textbook sums; a
    single group emits NULL F."""
    from maston_spark.evaluation import anova_oneway

    groups = {"a": [1.0, 2.0, 3.0], "b": [4.0, 5.0, 6.0, 7.0], "c": [2.0, 2.0, 4.0]}
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    [r] = anova_oneway(df, "g", "v").collect()
    allv = [v for vs in groups.values() for v in vs]
    gm = sum(allv) / len(allv)
    ssb = sum(len(vs) * (sum(vs) / len(vs) - gm) ** 2 for vs in groups.values())
    ssw = sum(
        sum((v - sum(vs) / len(vs)) ** 2 for v in vs) for vs in groups.values()
    )
    k, n = len(groups), len(allv)
    f = (ssb / (k - 1)) / (ssw / (n - k))
    assert abs(r.ss_between - ssb) < 1e-5
    assert abs(r.ss_within - ssw) < 1e-5
    assert abs(r.f_stat - f) < 1e-5
    [r1] = anova_oneway(
        spark.createDataFrame([("a", 1.0), ("a", 2.0)], "g string, v double"),
        "g",
        "v",
    ).collect()
    assert r1.f_stat is None


def test_mantel_haenszel_textbook_and_simpson_shape(spark):
    """Identical per-stratum odds ratios -> or_mh equals them; the
    CMH chi-square matches a plain replay; a null-association table
    gives chi2 ~ 0."""
    from maston_spark.evaluation import mantel_haenszel

    # stratum s1: a=10 b=10 c=5 d=10 (OR 2.0); s2: a=20 b=5 c=16 d=8 (OR 2.0)
    def rows_for(s, a, b, c, d):
        return (
            [(s, 1, 1)] * a + [(s, 1, 0)] * b + [(s, 0, 1)] * c + [(s, 0, 0)] * d
        )

    rows = rows_for("s1", 10, 10, 5, 10) + rows_for("s2", 20, 5, 16, 8)
    df = spark.createDataFrame(rows, "s string, g int, y int")
    [r] = mantel_haenszel(df, "s", "g", "y").collect()
    num = den = sa = e = v = 0.0
    for (a, b, c, d) in ((10, 10, 5, 10), (20, 5, 16, 8)):
        n = a + b + c + d
        num += round(a * d / n, 9)
        den += round(b * c / n, 9)
        sa += a
        e += round((a + b) * (a + c) / n, 9)
        v += round((a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1)), 9)
    assert r.or_mh == round(num / den, 6) == 2.0
    assert r.chi2_cmh == round((sa - e) ** 2 / v, 6)
    assert r.n_strata == 2 and r.n_rows == 84


def test_cochran_armitage_trend_and_sign(spark):
    """Monotone-increasing rates -> positive z matching the plain
    integer-form replay; reversed scores flip the sign exactly."""
    from maston_spark.evaluation import cochran_armitage

    design = {0: (100, 10), 1: (100, 20), 2: (100, 35)}  # score: (n, pos)
    rows = []
    for s, (n, a) in design.items():
        rows += [(s, 1)] * a + [(s, 0)] * (n - a)
    df = spark.createDataFrame(rows, "s int, y int")
    [r] = cochran_armitage(df, "s", "y").collect()
    N = sum(n for n, _ in design.values())
    A = sum(a for _, a in design.values())
    sa = sum(s * a for s, (_, a) in design.items())
    sn = sum(s * n for s, (n, _) in design.items())
    ssn = sum(s * s * n for s, (n, _) in design.items())
    num = N * sa - A * sn
    chi2 = N * num * num / ((A * (N - A)) * (N * ssn - sn * sn))
    assert r.chi2_trend == round(chi2, 6) and r.z_trend > 0
    assert abs(r.z_trend**2 - r.chi2_trend) < 1e-4
    flipped = spark.createDataFrame(
        [(-s, y) for s, y in rows], "s int, y int"
    )
    [rf] = cochran_armitage(flipped, "s", "y").collect()
    assert rf.z_trend == -r.z_trend


def test_bh_fdr_step_up_semantics(spark):
    """The BH step-up: a hypothesis with p above its own threshold is
    still rejected when a LATER rank passes (the step-up property);
    everything after k* is kept. Integer-lane compares replayed in
    plain python."""
    from maston_spark.evaluation import bh_fdr

    m, alpha = 20, 0.05
    # lanes: 3 tiny p's, one p just under 4*alpha/m at rank 4, rest large
    lanes = [1000, 2000, 3000, int(4 * alpha / m * 2**32) - 5] + [
        int(0.8 * 2**32) + i for i in range(16)
    ]
    df = spark.createDataFrame(
        [(i, lanes[i]) for i in range(m)], "hid int, lane long"
    )
    out = {r.hid: r for r in bh_fdr(df, "hid", "lane").collect()}
    # plain replay
    ranked = sorted(range(m), key=lambda i: (lanes[i], i))
    kstar = max(
        (k for k in range(1, m + 1) if lanes[ranked[k - 1]] * 20 * m <= k * 2**32),
        default=0,
    )
    for k, hid in enumerate(ranked, 1):
        assert out[hid].rejected == (k <= kstar), (hid, k, kstar)
    assert kstar == 4  # the rank-4 boundary case passes exactly
    assert sum(r.rejected for r in out.values()) == 4


def test_bh_fdr_tasks_bounded_by_cores(spark, sf_dir):
    """Every range partition of global_rank is one Python task, and AQE
    never coalesces an explicit partition count, so no stage of q264
    may run more tasks than the cores. Shuffle partitions are set to
    the session default of 32 so a rank sized by that setting fails
    here."""
    from maston_spark.queries.analytics_q import q264_bh_fdr

    sc = spark.sparkContext
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "32")
    group = "q264-task-bound"
    sc.setJobGroup(group, "q264_bh_fdr")
    try:
        assert q264_bh_fdr(spark, sf_dir).count() > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(conf, prev)

    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert jobs, "q264's jobs must run under the test's job group"
    ran = {}
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None:
                ran[sid] = info.numCompletedTasks + info.numFailedTasks
    assert max(ran.values()) <= sc.defaultParallelism, ran


def test_kendall_tau_group_split_across_arrow_batches(spark):
    """The round-16 streaming-group kernel carries a group's rows
    across Arrow batch boundaries; force tiny batches so every group
    straddles several, and check counts against brute force."""
    from maston_spark.evaluation import kendall_tau

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    rows = []
    vals = {}
    for g in ("a", "b", "c"):
        xs = [((i * 7 + ord(g)) % 13) * 1.0 for i in range(40)]
        ys = [((i * 5 + 2 * ord(g)) % 11) * 1.0 for i in range(40)]
        vals[g] = (xs, ys)
        rows += [(g, i, xs[i], ys[i]) for i in range(40)]
    try:
        spark.conf.set(key, "16")
        df = spark.createDataFrame(rows, "g string, i int, x double, y double")
        out = {r.group: r for r in kendall_tau(df, "g", "i", "x", "y").collect()}
    finally:
        spark.conf.set(key, prev)
    for g, (xs, ys) in vals.items():
        C = D = 0
        n = len(xs)
        for i in range(n):
            for j in range(i + 1, n):
                sx = (xs[j] > xs[i]) - (xs[j] < xs[i])
                sy = (ys[j] > ys[i]) - (ys[j] < ys[i])
                if sx * sy == 1:
                    C += 1
                elif sx * sy == -1:
                    D += 1
        assert out[g].n_concordant == C and out[g].n_discordant == D, g
        assert out[g].n_rows == n


def test_kendall_tau_known_cases(spark):
    """Perfect agreement -> tau 1; perfect reversal -> -1; the tied
    worked example matches the plain-python tau-b."""
    from maston_spark.evaluation import kendall_tau

    up = [(i, float(i), float(i * 2)) for i in range(6)]
    down = [(i, float(i), float(-i)) for i in range(6)]
    xs = [1.0, 2.0, 2.0, 3.0, 4.0, 4.0, 5.0]
    ys = [2.0, 1.0, 3.0, 3.0, 5.0, 4.0, 6.0]
    tied = [(i, xs[i], ys[i]) for i in range(7)]
    rows = (
        [("up", i, x, y) for i, x, y in up]
        + [("down", i, x, y) for i, x, y in down]
        + [("tied", i, x, y) for i, x, y in tied]
    )
    df = spark.createDataFrame(rows, "g string, i int, x double, y double")
    out = {r.group: r for r in kendall_tau(df, "g", "i", "x", "y").collect()}
    assert out["up"].tau_b == 1.0 and out["down"].tau_b == -1.0
    # plain-python tau-b
    C = D = tx = ty = 0
    for i in range(7):
        for j in range(i + 1, 7):
            sx = (xs[j] > xs[i]) - (xs[j] < xs[i])
            sy = (ys[j] > ys[i]) - (ys[j] < ys[i])
            if sx == 0:
                tx += 1
            if sy == 0:
                ty += 1
            if sx * sy == 1:
                C += 1
            elif sx * sy == -1:
                D += 1
    n0 = 21
    tau = (C - D) / ((n0 - tx) * (n0 - ty)) ** 0.5
    assert out["tied"].n_concordant == C and out["tied"].n_discordant == D
    assert out["tied"].tau_b == round(tau, 6)


def test_dispersion_index_poisson_vs_overdispersed(spark):
    """A constant series has dispersion 0; a planted high-variance
    count series matches the hand variance/mean and flags; a
    near-Poisson spread does not flag."""
    from maston_spark.evaluation import dispersion_index

    import statistics

    over = [0, 0, 0, 0, 20, 0, 0, 0, 0, 20] * 5
    calm = [4, 5, 6, 5, 4, 5, 6, 5, 4, 5] * 5
    rows = (
        [("const", 7)] * 10
        + [("over", v) for v in over]
        + [("calm", v) for v in calm]
    )
    df = spark.createDataFrame(rows, "g string, x long")
    out = {r.group: r for r in dispersion_index(df, "g", "x").collect()}
    assert out["const"].dispersion == 0.0 and not out["const"].overdispersed_95
    v, m = statistics.variance(over), statistics.mean(over)
    assert out["over"].dispersion == round(v / m, 6)
    assert out["over"].overdispersed_95
    assert not out["calm"].overdispersed_95


def test_capture_recapture_chapman_known_case(spark):
    """Textbook Chapman: n1=100 marked, n2=60 second pass, m=20
    recaptured -> N = 101*61/21 - 1; zero overlap emits NULLs."""
    from maston_spark.evaluation import capture_recapture

    rows = [(i, 1) for i in range(80)] + [(100 + i, 2) for i in range(40)] + [
        (200 + i, 3) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "uid int, mark int")
    [r] = capture_recapture(df, "uid", "mark").collect()
    assert (r.n_first, r.n_second, r.n_both) == (100, 60, 20)
    est = 101 * 61 / 21 - 1
    assert r.n_est == round(est, 2)
    var = 101 * 61 * 80 * 40 / (21 * 21 * 22)
    assert r.ci_hi == round(est + 1.959963984540054 * var**0.5, 2)
    disjoint = spark.createDataFrame([(1, 1), (2, 2)], "uid int, mark int")
    [rd] = capture_recapture(disjoint, "uid", "mark").collect()
    assert rd.n_est is None and rd.n_both == 0


def test_mann_whitney_auc_agrees_with_group_auc_rank_window(spark):
    """Two INDEPENDENT implementations of the same statistic must
    agree: mann_whitney_u's auc_1 (value-histogram midranks, no
    per-row window) equals group_auc's AUC (per-group rank windows)
    on identical data — the label as score-of-group-1 superiority.
    Randomized heavy-tie data, several seeds."""
    import random

    from maston_spark.evaluation import group_auc, mann_whitney_u

    for seed in (3, 17, 41):
        rnd = random.Random(seed)
        rows = [
            (rnd.randrange(0, 2), float(rnd.randrange(0, 12)) / 2)
            for _ in range(300)
        ]
        df = spark.createDataFrame(rows, "g int, v double")
        [mw] = mann_whitney_u(df, "g", "v").collect()
        # group_auc: one group 'all', score = v, label = g
        [ga] = group_auc(
            df.select(F.lit("all").alias("k"), F.col("v"), F.col("g")),
            "k",
            "v",
            "g",
        ).collect()
        assert mw.auc_1 == ga.auc, seed
        assert (mw.n_1, mw.n_0) == (ga.n_pos, ga.n_neg), seed


def test_isotonic_calibration_matches_plain_pav(spark):
    """The minimax integer-nano fit equals a plain-python weighted
    pool-adjacent-violators replay (exact Fraction pooling, half-away
    round to 9) on a curve with planted violations, and the fitted
    rates are monotone nondecreasing in the bin index."""
    from fractions import Fraction

    from maston_spark.evaluation import isotonic_calibration

    # scores engineered to land in bins 0..4 of 5; bin rates
    # 0.2, 0.5, 0.3, 0.3, 0.9 -> bins 1-3 must pool to 11/30
    per_bin = [(10, 2), (10, 5), (10, 3), (10, 3), (10, 9)]
    rows = []
    rid = 0
    for b, (n, pos) in enumerate(per_bin):
        for i in range(n):
            rows.append(("g", (b + 0.5) / 5.0, 1 if i < pos else 0))
            rid += 1
    df = spark.createDataFrame(rows, "g string, s double, y int")
    out = {r.bin: r for r in isotonic_calibration(df, "g", "s", "y", n_bins=5).collect()}
    assert sorted(out) == [0, 1, 2, 3, 4]

    # plain PAV with exact rationals
    blocks = [
        [Fraction(pos), Fraction(n), [b]] for b, (n, pos) in enumerate(per_bin)
    ]
    i = 0
    while i < len(blocks) - 1:
        if blocks[i][0] / blocks[i][1] > blocks[i + 1][0] / blocks[i + 1][1]:
            blocks[i][0] += blocks[i + 1][0]
            blocks[i][1] += blocks[i + 1][1]
            blocks[i][2] += blocks[i + 1][2]
            del blocks[i + 1]
            i = max(0, i - 1)
        else:
            i += 1
    # nano from the pooled (pos, n) integers mirrors the operator's
    # (2*P*1e9 + N) div (2*N) half-away grid exactly
    want = {}
    for P, N, bs in blocks:
        nano = (2 * int(P) * 10**9 + int(N)) // (2 * int(N))
        for b in bs:
            want[b] = nano
    for b in range(5):
        assert out[b].fitted_rate == want[b] / 1e9, (b, out[b], want[b])
    fitted = [out[b].fitted_rate for b in range(5)]
    assert fitted == sorted(fitted)
    assert out[1].fitted_rate == out[2].fitted_rate == out[3].fitted_rate
    assert abs(out[1].fitted_rate - 11 / 30) < 1e-8
    assert out[0].raw_rate == 0.2 and out[4].raw_rate == 0.9


def test_cem_att_hand_case_and_unmatched_reporting(spark):
    """Two matched strata + one treated-only stratum: ATT is the
    treated-weighted mean of stratum diffs over MATCHED strata only
    ((2*$10 + 1*$5)/3 = $8.333333 on the half-away 6-grid), and the
    unmatched treated unit shows up in total-vs-matched counts."""
    import pytest

    from maston_spark.evaluation import cem_att

    rows = [
        ("A", 1, 1000), ("A", 1, 2000), ("A", 0, 500),
        ("B", 1, 800), ("B", 0, 200), ("B", 0, 400),
        ("C", 1, 9900),  # no control in C -> unmatched
    ]
    df = spark.createDataFrame(rows, "s string, t int, y long")
    [r] = cem_att(df, ["s"], "t", "y").collect()
    assert r.n_strata_total == 3 and r.n_strata_matched == 2
    assert r.n_treated_total == 4 and r.n_treated_matched == 3
    assert r.n_control_matched == 3
    assert r.att == 8.333333  # (2*10e6 + 1*5e6) div-half-away 3 / 1e6
    with pytest.raises(ValueError, match="at least one"):
        cem_att(df, [], "t", "y")


def test_regression_discontinuity_recovers_planted_jump(spark):
    """y = 2 + 0.5(x−c) below the cutoff and 7 + 0.5(x−c) above:
    both side fits recover slope 0.5 and their intercepts exactly,
    rd_effect = 5; points outside the bandwidth are ignored."""
    from maston_spark.evaluation import regression_discontinuity

    c, h = 50.0, 20.0
    rows = []
    for x in range(30, 50):
        rows.append((float(x), 2.0 + 0.5 * (x - c)))
    for x in range(50, 71):
        rows.append((float(x), 7.0 + 0.5 * (x - c)))
    rows.append((500.0, 999999.0))  # far outside bandwidth: ignored
    df = spark.createDataFrame(rows, "x double, y double")
    [r] = regression_discontinuity(df, "x", "y", cutoff=c, bandwidth=h).collect()
    assert (r.n_below, r.n_above) == (20, 21)
    assert r.slope_below == 0.5 and r.slope_above == 0.5
    assert r.intercept_below == 2.0 and r.intercept_above == 7.0
    assert r.rd_effect == 5.0


def test_qini_uplift_separates_causal_from_correlational(spark):
    """Planted uplift: the treated arm converts at 0.8 in the top
    score half vs control 0.2; bottom half both 0.2. Per-bucket
    uplift is +0.6 on top, ~0 below, cumulative qini matches the
    hand formula pt - pc*(ct/cc) on the exact grid."""
    from maston_spark.evaluation import qini_uplift

    rows = []
    rid = 0
    for half, (rt, rc) in (("hi", (0.8, 0.2)), ("lo", (0.2, 0.2))):
        s = 0.9 if half == "hi" else 0.1
        for arm, rate in ((1, rt), (0, rc)):
            for i in range(50):
                rows.append((arm, s, 1 if i < int(rate * 50) else 0, rid))
                rid += 1
    df = spark.createDataFrame(rows, "tr int, s double, y int, tb long")
    out = {r.bucket: r for r in qini_uplift(df, "tr", "s", "y", "tb", n_buckets=2).collect()}
    assert set(out) == {0, 1}
    top = out[0]
    assert (top.n_treated, top.n_control) == (50, 50)
    assert (top.pos_treated, top.pos_control) == (40, 10)
    assert top.uplift_rate == 0.6
    assert top.qini == 30.0  # 40 - 10*(50/50)
    bot = out[1]
    assert bot.uplift_rate == 0.0
    assert bot.qini == 30.0  # no incremental conversions added below


def test_cem_att_exact_beyond_int64_products(spark):
    """Summed stratum cents large enough that 2*cents*1e4 wraps int64
    (round-14 ADVICE): the decimal(38,0) mean/numerator path keeps the
    ATT exact — two treated units at $5e12 each vs a $0 control."""
    from maston_spark.evaluation import cem_att

    big = 5 * 10**14  # cents: 2*__st*1e4 = 2e19 > int64 max
    rows = [("A", 1, big), ("A", 1, big), ("A", 0, 0)]
    df = spark.createDataFrame(rows, "s string, t int, y long")
    [r] = cem_att(df, ["s"], "t", "y").collect()
    assert r.n_treated_matched == 2
    assert r.att == float(big) / 100.0  # exact: 5e12 dollars


def test_quantile_treatment_effects_planted_distribution_shift(spark):
    """Treatment adds +10 above the median only: qte(0.25) = 0,
    qte(0.75) = 10 — the distributional effect a mean estimator
    smears into one number; quantiles are exact order statistics."""
    from maston_spark.evaluation import quantile_treatment_effects

    ctrl = [(0, float(v)) for v in range(1, 101)]
    trt = [(1, float(v) if v <= 50 else float(v + 10)) for v in range(1, 101)]
    df = spark.createDataFrame(ctrl + trt, "tr int, y double")
    out = {r.quantile: r for r in
           quantile_treatment_effects(df, "tr", "y").collect()}
    assert out[0.25].qte == 0.0
    assert out[0.75].qte == 10.0
    assert out[0.5].n_treated == 100 and out[0.5].n_control == 100


def test_ips_offpolicy_hand_case(spark):
    """Logged uniform over {A,B} (4 each); target always-A. IPS =
    sum(num_a/n_a) over matched = (mean reward of logged A) weighted
    up: num_A = 40 micro-lanes of 10.0 -> IPS = 10.0; SNIPS equals
    IPS here (constant weights); ESS = n_matched under a single
    matched action."""
    from maston_spark.evaluation import ips_offpolicy_value

    rows = [("A", 10.0, "A")] * 4 + [("B", 99.0, "A")] * 4
    df = spark.createDataFrame(rows, "a string, r double, tgt string")
    [r] = ips_offpolicy_value(df, "a", "r", "tgt").collect()
    assert (r.n, r.n_matched) == (8, 4)
    # IPS = num_A/n_A = 40/4 = 10.0 (B contributes nothing: no match)
    assert r.ips_value == 10.0
    assert r.snips_value == 10.0
    # weights: matched A rows carry w = n/n_A = 2 -> ESS = (4*2)^2/(4*4) = 4
    assert r.ess == 4.0


def test_nelson_aalen_hand_case_and_km_consistency(spark):
    """Hand case: 4 subjects, events at t=1 (d=1/n=4) and t=3
    (d=2/n=2 after a censor at t=2): H = 0.25 then 1.25, variance
    0.0625 then 0.5625 — exact rationals. exp(−H) upper-bounds the
    KM survival at every time (Fleming-Harrington), tight early."""
    import math

    from maston_spark.evaluation import kaplan_meier, nelson_aalen

    rows = [(1, 1), (2, 0), (3, 1), (3, 1)]
    df = spark.createDataFrame(rows, "dur long, evt int")
    na = {r.t: r for r in nelson_aalen(df, "dur", "evt").collect()}
    assert (na[1].n_risk, na[1].n_events) == (4, 1)
    assert na[1].cum_hazard == 0.25
    assert na[1].cum_hazard_var == 0.0625
    assert (na[3].n_risk, na[3].n_events) == (2, 2)
    assert na[3].cum_hazard == 1.25
    assert na[3].cum_hazard_var == 0.5625
    km = {r.t: r.survival for r in kaplan_meier(df, "dur", "evt").collect()}
    for t, s in km.items():
        assert math.exp(-na[t].cum_hazard) >= s - 1e-9, t


def test_aalen_johansen_single_cause_equals_one_minus_km(spark):
    """With ONE cause, CIF(t) = 1 − KM(t) exactly: subjects failing
    at t = 1, 2, 4 with a censoring at 3 give S = 3/4, 1/2, 1/2, 0 —
    so the incidence reads 0.25, 0.5, 0.5 (flat through the
    censor-only time), 1.0. Every lane lands on the integer grid, so
    the equality is exact, not approximate."""
    from maston_spark.evaluation import aalen_johansen

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 0), (4, 1)], "dur long, cause int"
    )
    out = aalen_johansen(df, "dur", "cause").collect()
    assert [(r.t, r.cause, r.n_risk, r.n_events) for r in out] == [
        (1, 1, 4, 1), (2, 1, 3, 1), (3, 1, 2, 0), (4, 1, 1, 1),
    ]
    assert [r.cif for r in out] == [0.25, 0.5, 0.5, 1.0]


def test_aalen_johansen_competing_causes_partition_survival(spark):
    """Two competing causes partition the failure probability:
    Σ_k CIF_k(t_max) + S(t_max) = 1, and a subject claimed by cause
    2 never inflates cause 1's incidence (the 1−KM-per-cause
    over-count this estimator exists to avoid). Hand replay:
    t=1 cause1 d=1 n=4 → CIF₁ = 1/4; t=2 cause2 d=1 n=3 →
    CIF₂ = 3/4·1/3 = 1/4; t=3 censored; t=4 cause1 d=1 n=1,
    S(4−) = 1/2 → CIF₁ = 3/4. Both flat rows present (grid fill)."""
    from maston_spark.evaluation import aalen_johansen

    df = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 0), (4, 1)], "dur long, cause int"
    )
    out = aalen_johansen(df, "dur", "cause").collect()
    # |distinct t| × |causes| rows — flat rows included
    assert len(out) == 8
    by = {(r.t, r.cause): r for r in out}
    assert by[(1, 1)].cif == 0.25 and by[(1, 2)].cif == 0.0
    assert by[(2, 2)].cif == 0.25 and by[(2, 1)].cif == 0.25
    assert by[(4, 1)].cif == 0.75 and by[(4, 2)].cif == 0.25
    # the partition identity at the horizon (S(4) = 0 here)
    assert by[(4, 1)].cif + by[(4, 2)].cif == 1.0


def test_aalen_johansen_whole_risk_set_death_freezes_cif(spark):
    """A time where the whole risk set fails drives S to exact 0 —
    later increments are exactly 0 and the CIF freezes (no NULL
    propagation from the ln lane)."""
    from maston_spark.evaluation import aalen_johansen

    df = spark.createDataFrame(
        [(1, 1), (1, 1), (2, 2)], "dur long, cause int"
    )
    # t=1: n=3, d_all=2 → S(1) = 1/3; t=2: n=1, d=1 → S = 0
    out = {(r.t, r.cause): r.cif for r in
           aalen_johansen(df, "dur", "cause").collect()}
    # lane replay: t=1 has S(t−)=1 (s9 = 1e9), so the cause-1 pico
    # increment is (2·1e9·2·1000 + 3) div 6 = 666666666667; at t=2,
    # s9 = round(exp(round(ln(1/3), 9))·1e9) = 333333333 exactly
    assert out[(1, 1)] == 666666666667 / 1e12
    assert out[(2, 2)] == 333333333000 / 1e12
    # cause 1 frozen after t=1
    assert out[(2, 1)] == out[(1, 1)]


def test_rmst_hand_case_truncated_step_area(spark):
    """KM from (1,e),(2,e),(3,c),(4,e): S = 3/4, 1/2, 1/2, 0. The
    τ-restricted area is exact step arithmetic: τ=3 → 1·1 + 0.75·1
    + 0.5·1 = 2.25; τ=10 → 2.25 + 0.5·1 + 0·6 = 2.75 (the post-death
    tail adds nothing); τ=1 → only the S=1 lead strip. rmst_lost
    closes the identity rmst + rmst_lost = τ."""
    from maston_spark.evaluation import rmst

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 0), (4, 1)], "dur long, evt int"
    )
    r3 = rmst(df, "dur", "evt", tau=3).collect()[0]
    assert (r3.tau, r3.n_subjects, r3.n_events) == (3, 4, 3)
    assert r3.rmst == 2.25 and r3.rmst_lost == 0.75
    r10 = rmst(df, "dur", "evt", tau=10).collect()[0]
    assert r10.rmst == 2.75 and r10.rmst_lost == 7.25
    r1 = rmst(df, "dur", "evt", tau=1).collect()[0]
    assert r1.rmst == 1.0 and r1.rmst_lost == 0.0


def test_sprt_evalue_hand_case_and_fold_additivity(spark):
    """10 observations with 6 successes under H0 p=0.5 vs H1 p=0.8:
    log10 E = 6·log10(1.6) + 4·log10(0.4) — exact literal replay —
    and the e-value is NOT yet past 1/α = 20 (log10 ≈ 0.633 < 1.301)
    while 20-of-22 successes cross it. The statistic is a pure
    function of the additive (n, k) counters, so any batch split
    folds to the identical readout."""
    import math

    from maston_spark.evaluation import sprt_evalue

    rows = [("g", 1)] * 6 + [("g", 0)] * 4 + [("h", 1)] * 20 + [("h", 0)] * 2
    df = spark.createDataFrame(rows, "g string, y int")
    out = {r.group: r for r in
           sprt_evalue(df, "g", "y", p0=0.5, p1=0.8).collect()}
    g = out["g"]
    expect_g = round(6 * math.log10(1.6) + 4 * math.log10(0.4), 6)
    assert (g.n, g.k, g.log10_e) == (10, 6, expect_g)
    assert not g.e_crossed
    h = out["h"]
    expect_h = round(20 * math.log10(1.6) + 2 * math.log10(0.4), 6)
    assert (h.n, h.k, h.log10_e) == (22, 20, expect_h)
    assert h.e_crossed
