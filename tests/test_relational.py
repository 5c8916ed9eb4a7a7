"""Goldens for the composed relational operators (as-of join,
top-k per group) against hand-computed expectations."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from maston_spark.relational import asof_join, top_k_per_group


def test_asof_join_backward_semantics(spark):
    trades = spark.createDataFrame(
        [
            Row(sym="A", t=10, qty=1),
            Row(sym="A", t=25, qty=2),
            Row(sym="B", t=5, qty=3),
        ]
    )
    quotes = spark.createDataFrame(
        [
            Row(sym="A", t=8, px=100.0),
            Row(sym="A", t=20, px=101.0),
            Row(sym="A", t=30, px=102.0),
            Row(sym="B", t=6, px=50.0),
        ]
    )
    out = asof_join(
        trades, quotes, by=["sym"], left_on="t", right_on="t",
        right_vals=["px"], right_tiebreak="px",
    )
    got = {(r.sym, r.t): r.px_right for r in out.collect()}
    assert got[("A", 10)] == 100.0   # latest quote <= 10 is t=8
    assert got[("A", 25)] == 101.0   # t=20, not t=30
    assert got[("B", 5)] is None     # no quote at or before t=5


def test_asof_join_tie_takes_greatest_tiebreak(spark):
    left = spark.createDataFrame([Row(k="x", t=10)])
    right = spark.createDataFrame(
        [Row(k="x", t=10, v=1.0), Row(k="x", t=10, v=9.0)]
    )
    out = asof_join(left, right, ["k"], "t", "t", ["v"], "v")
    assert out.collect()[0].v_right == 9.0


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [Row(g="a", v=i) for i in range(10)] + [Row(g="b", v=i) for i in range(3)]
    )
    out = top_k_per_group(df, ["g"], [F.col("v").desc()], 2)
    got = sorted((r.g, r.v) for r in out.collect())
    assert got == [("a", 8), ("a", 9), ("b", 1), ("b", 2)]


def test_snapshot_diff_classifies_all_change_types(spark):
    from maston_spark.relational import snapshot_diff

    a = spark.createDataFrame(
        [(1, "x", 1.0), (2, "y", 2.0), (3, "z", None), (4, "w", 4.0)],
        "k long, s string, v double",
    )
    b = spark.createDataFrame(
        [(1, "x", 1.0),        # unchanged -> dropped
         (2, "y", 2.5),        # value changed
         (3, "z", 3.0),        # null -> value (null-safe change)
         (5, "n", 5.0)],       # added; 4 removed
        "k long, s string, v double",
    )
    out = {r.k: r.change_type for r in
           snapshot_diff(a, b, ["k"], ["s", "v"]).collect()}
    assert out == {2: "changed", 3: "changed", 4: "removed", 5: "added"}


def test_event_paths_orders_and_counts(spark):
    from maston_spark.relational import event_paths

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (1, 4, "b"),
        (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),
        (3, 5, "x"),  # too short for any 3-path
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, event_type string")
    df = df.withColumn("ts", (F.col("event_id") * 1000).cast("timestamp"))
    out = {r.path: r.n_paths for r in event_paths(df).collect()}
    assert out == {"a>b>c": 2, "b>c>b": 1}


def test_histogram_exact_buckets(spark):
    from maston_spark.relational import histogram_exact

    df = spark.createDataFrame(
        [(0.5,), (9.9,), (10.0,), (25.0,), (None,)], "v double"
    )
    rows = {r.bucket: (r.bucket_low, r.n_rows) for r in
            histogram_exact(df, "v", 10.0).collect()}
    assert rows == {0: (0.0, 2), 1: (10.0, 1), 2: (20.0, 1)}


def test_pagerank_cycle_and_star(spark):
    from maston_spark.graph import pagerank

    # 3-cycle: uniform distribution is stationary -> all ranks equal
    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    r = {x.node: x.rank for x in pagerank(cyc, iterations=4).collect()}
    assert len(set(r.values())) == 1
    assert abs(sum(r.values()) - 1.0) < 1e-5
    # star: hub 1 exchanges with leaves 2,3 -> hub outranks the
    # leaves, leaves tie by symmetry
    star = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 1), (3, 1)], "src long, dst long"
    )
    r = {x.node: x.rank for x in pagerank(star, iterations=6).collect()}
    assert r[1] > r[2] == r[3]
    assert abs(sum(r.values()) - 1.0) < 1e-4


def test_exact_percentiles_matches_quantile_cont(spark):
    """Order-statistics rewrite implements the percentile_cont
    contract: exact (bit-for-bit) parity with DuckDB's quantile_cont
    — the oracle engine — and 1-ulp-level agreement with Spark's
    built-in `percentile`, whose interpolation uses the weighted
    form `v_lo*(hi-rank) + v_hi*(rank-lo)` instead of
    `v_lo + frac*(v_hi-v_lo)`. Ties, singleton groups, and nulls
    included."""
    import random

    import duckdb
    from pyspark.sql import functions as F

    from maston_spark.relational import exact_percentiles

    rng = random.Random(42)
    rows = []
    for g, size in (("a", 997), ("b", 40), ("c", 1), ("d", 2)):
        for _ in range(size):
            # coarse grid -> plenty of duplicate values per group
            rows.append((g, round(rng.uniform(0, 50), 1)))
    rows += [("a", None), ("b", None)]  # nulls are excluded, not counted
    df = spark.createDataFrame(rows, "g string, v double")

    ps = (0.0, 0.25, 0.5, 0.9, 1.0)
    als = tuple(f"p{int(p * 100)}" for p in ps)
    got = {r.g: r for r in exact_percentiles(df, "g", "v", ps, als).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sel = ", ".join(
        f"quantile_cont(v, {p}) AS {a}" for p, a in zip(ps, als)
    )
    oracle = {
        r[0]: r[1:]
        for r in con.execute(f"SELECT g, {sel} FROM t GROUP BY g").fetchall()
    }
    assert set(got) == set(oracle)
    for g in oracle:
        for i, a in enumerate(als):
            assert got[g][a] == oracle[g][i], (g, a, got[g][a], oracle[g][i])

    ref = {
        r.g: r
        for r in df.groupBy("g")
        .agg(*[F.percentile("v", F.lit(p)).alias(a) for p, a in zip(ps, als)])
        .collect()
    }
    for g in ref:
        for a in als:
            assert abs(got[g][a] - ref[g][a]) < 1e-9 * max(1.0, abs(ref[g][a]))


def test_robust_outlier_stats_golden(spark):
    """Median/MAD and the k·1.4826·MAD rule against a hand-computed
    group: values 1..9 plus one wild outlier."""
    from maston_spark.relational import robust_outlier_stats

    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 1000.0)]
    rows += [("h", 5.0), ("h", 5.0)]  # MAD = 0: only exact-median rows survive
    df = spark.createDataFrame(rows, "grp string, x double")
    got = {r.grp: r for r in robust_outlier_stats(df, "grp", "x").collect()}

    # group g: n=10, median = (5+6)/2 = 5.5, devs sorted:
    # [0.5,0.5,1.5,1.5,2.5,2.5,3.5,3.5,4.5,994.5] -> MAD = 2.5
    # threshold = 3*1.4826*2.5 = 11.1195 -> only 1000.0 flagged
    g = got["g"]
    assert g.n_rows == 10 and g.median == 5.5 and g.mad == 2.5
    assert g.n_outliers == 1 and abs(g.outlier_frac - 0.1) < 1e-9
    # group h: MAD 0 -> threshold 0 -> no deviation exceeds it
    h = got["h"]
    assert h.median == 5.0 and h.mad == 0.0 and h.n_outliers == 0


def test_exact_percentiles_fuzz_many_group_shapes(spark):
    """One Spark run over 40 randomized groups — varied sizes (1..400),
    tie densities (coarse grids), and value scales — each checked
    bit-for-bit against DuckDB quantile_cont at awkward percentile
    fractions. Guards the interpolation-formula parity (the weighted
    form) against regressions across group shapes."""
    import random

    import duckdb

    from maston_spark.relational import exact_percentiles

    rng = random.Random(123)
    rows = []
    for gi in range(40):
        size = rng.choice([1, 2, 3, 5, 17, 100, 400])
        grid = rng.choice([1, 2, 10, 1000])  # small grid => heavy ties
        scale = rng.choice([1.0, 1e-6, 1e6])
        for _ in range(size):
            rows.append((f"g{gi}", round(rng.randint(0, grid) * scale, 9)))
    df = spark.createDataFrame(rows, "g string, v double")

    ps = (0.1, 1.0 / 3.0, 0.5, 0.9)
    als = ("p10", "p33", "p50", "p90")
    got = {r.g: r for r in exact_percentiles(df, "g", "v", ps, als).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE t (g VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sel = ", ".join(
        f"quantile_cont(v, {p!r}) AS {a}" for p, a in zip(ps, als)
    )
    oracle = {
        r[0]: r[1:]
        for r in con.execute(f"SELECT g, {sel} FROM t GROUP BY g").fetchall()
    }
    assert set(got) == set(oracle)
    mismatches = [
        (g, a, got[g][a], oracle[g][i])
        for g in oracle
        for i, a in enumerate(als)
        if got[g][a] != oracle[g][i]
    ]
    assert not mismatches, mismatches[:5]


def test_key_skew_report_golden(spark):
    from pyspark.sql import functions as F

    from maston_spark.profiling import key_skew_report

    # key "hot" holds 80 of 100 rows; 20 singleton keys; 1 null-key row
    rows = [("hot",)] * 80 + [(f"k{i}",) for i in range(19)] + [(None,)]
    df = spark.createDataFrame(rows, "k string")
    got = {r.key: r for r in key_skew_report(df, "k", top_k=5).collect()}
    assert len(got) == 5
    hot = got["hot"]
    # 21 distinct keys (null counts), uniform share = 100/21
    assert hot.n_rows == 80
    assert abs(hot.row_frac - 0.8) < 1e-9
    assert abs(hot.skew_ratio - 80 / (100 / 21)) < 1e-4
    # every non-hot key in the report is a singleton
    assert all(r.n_rows == 1 for k, r in got.items() if k != "hot")


def test_chi2_contingency_matches_numpy(spark):
    import numpy as np

    from maston_spark.profiling import chi2_contingency

    # 2x3 table with a clear dependence
    obs = {("x", "p"): 30, ("x", "q"): 10, ("x", "r"): 5,
           ("y", "p"): 5, ("y", "q"): 20, ("y", "r"): 30}
    rows = [(a, b) for (a, b), n in obs.items() for _ in range(n)]
    df = spark.createDataFrame(rows, "a string, b string")
    got = chi2_contingency(df, "a", "b").collect()[0]

    t = np.array([[30, 10, 5], [5, 20, 30]], dtype=float)
    e = t.sum(1, keepdims=True) * t.sum(0, keepdims=True) / t.sum()
    chi2 = float(((t - e) ** 2 / e).sum())
    assert got.dof == 2 and got.n_cells == 6 and got.n_rows == 100
    assert abs(got.chi2 - chi2) < 1e-6

    # independent columns -> chi2 == 0 exactly
    ind = [(a, b) for a in ("x", "y") for b in ("p", "q") for _ in range(10)]
    z = chi2_contingency(
        spark.createDataFrame(ind, "a string, b string"), "a", "b"
    ).collect()[0]
    assert z.chi2 == 0.0 and z.dof == 1


def test_decayed_sum_power_of_two_weights(spark):
    import datetime

    from maston_spark.relational import decayed_sum

    base = datetime.datetime(2026, 1, 1)
    rows = [
        # user 1: value 8 now, 8 one half-life ago, 8 two half-lives ago
        (1, base, 8.0),
        (1, base - datetime.timedelta(days=7), 8.0),
        (1, base - datetime.timedelta(days=14), 8.0),
        # user 2: a single event 3 days old (same bucket as newest)
        (2, base - datetime.timedelta(days=3), 10.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r.user_id: r for r in decayed_sum(df, "user_id", "ts", "value", 7).collect()}
    # 8*1 + 8*0.5 + 8*0.25 = 14.0 exactly (powers of two)
    assert got[1].decayed_sum == 14.0 and got[1].n_events == 3
    # 3 days < one half-life -> bucket 0 -> full weight
    assert got[2].decayed_sum == 10.0


def test_group_trend_golden(spark):
    import datetime

    from maston_spark.relational import group_trend

    base = datetime.datetime(2026, 1, 1)
    rows = (
        # user 1: value rises exactly 2/day -> slope 2.0
        [(1, base + datetime.timedelta(days=i), 10.0 + 2.0 * i) for i in range(5)]
        # user 2: constant -> slope 0
        + [(2, base + datetime.timedelta(days=i), 7.0) for i in range(3)]
        # user 3: single event -> zero variance -> null
        + [(3, base, 1.0)]
    )
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    got = {r.user_id: r for r in group_trend(df, "user_id", "ts", "value").collect()}
    assert got[1].slope_per_day == 2.0 and got[1].n == 5
    assert got[2].slope_per_day == 0.0
    assert got[3].slope_per_day is None and got[3].n == 1


def test_quantile_bins_equal_frequency(spark):
    import pytest

    from maston_spark.relational import quantile_bins

    # 0..99 -> quartiles must hold exactly 25 each (cuts at 24.75,
    # 49.5, 74.25; ties impossible on integers)
    df = spark.createDataFrame([(float(i),) for i in range(100)], "v double")
    got = {r.bin: r for r in quantile_bins(df, "v", n_bins=4).collect()}
    assert {b: r.n_rows for b, r in got.items()} == {0: 25, 1: 25, 2: 25, 3: 25}
    assert got[0].min_val == 0.0 and got[0].max_val == 24.0
    assert got[3].min_val == 75.0 and got[3].max_val == 99.0

    # heavy ties: a value equal to an edge lands in the LOWER bin,
    # and bins swallowed by the tie mass are absent
    tied = spark.createDataFrame([(1.0,)] * 90 + [(2.0,)] * 10, "v double")
    bins = {r.bin: r.n_rows for r in quantile_bins(tied, "v", n_bins=4).collect()}
    assert bins == {0: 90, 3: 10}

    with pytest.raises(ValueError):
        quantile_bins(df, "v", n_bins=1)


def test_last_touch_attribution_golden(spark):
    import datetime

    from maston_spark.relational import last_touch_attribution

    t0 = datetime.datetime(2026, 1, 10)

    def ev(i, u, typ, days_offset):
        return (i, u, typ, t0 + datetime.timedelta(days=days_offset))

    rows = [
        # user 1: click -> purchase (1 day later) => click
        ev(1, 1, "click", 0), ev(2, 1, "purchase", 1),
        # user 2: view then click then purchase => click (LAST touch)
        ev(3, 2, "view", 0), ev(4, 2, "click", 1), ev(5, 2, "purchase", 2),
        # user 3: touch 10 days before purchase -> outside 7d lookback
        ev(6, 3, "view", 0), ev(7, 3, "purchase", 10),
        # user 4: purchase with no touches at all
        ev(8, 4, "purchase", 0),
        # user 5: touch AFTER the purchase never attributes
        ev(9, 5, "purchase", 0), ev(10, 5, "click", 1),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {
        r.attributed_to: r
        for r in last_touch_attribution(
            df, "user_id", "event_type", "purchase", ["click", "view"],
            order_cols=("ts", "event_id"), lookback_days=7,
        ).collect()
    }
    assert got["click"].n_conversions == 2      # users 1, 2
    assert got["(none)"].n_conversions == 3     # users 3 (stale), 4, 5
    assert "view" not in got                    # never the LAST touch here
    assert abs(sum(r.conversion_share for r in got.values()) - 1.0) < 1e-9


def test_gapfill_locf_golden(spark):
    from datetime import datetime

    from maston_spark.relational import gapfill_locf

    rows = [
        # series 'a': observations in hours 0 and 3 -> hours 1,2 are gaps
        ("a", datetime(2024, 1, 1, 0, 15), 1.0),
        ("a", datetime(2024, 1, 1, 0, 45), 2.0),
        ("a", datetime(2024, 1, 1, 3, 30), 10.0),
        # series 'b': single observation -> no gaps, range is one bucket
        ("b", datetime(2024, 1, 1, 5, 0), 7.0),
    ]
    df = spark.createDataFrame(rows, "s string, ts timestamp, value double")
    got = {
        (r.series, r.bucket.hour): r
        for r in gapfill_locf(df, "s", "ts", "value").collect()
    }
    assert len(got) == 5  # a: hours 0..3 (4 buckets), b: hour 5
    a0, a1, a2, a3 = (got[("a", h)] for h in range(4))
    assert (a0.n_events, a0.sum_value, a0.is_gap, a0.locf_sum) == (2, 3.0, False, 3.0)
    # gap buckets: no sum, flagged, value carried forward
    assert (a1.n_events, a1.sum_value, a1.is_gap, a1.locf_sum) == (0, None, True, 3.0)
    assert (a2.n_events, a2.sum_value, a2.is_gap, a2.locf_sum) == (0, None, True, 3.0)
    assert (a3.n_events, a3.sum_value, a3.is_gap, a3.locf_sum) == (1, 10.0, False, 10.0)
    b5 = got[("b", 5)]
    assert (b5.n_events, b5.is_gap, b5.locf_sum) == (1, False, 7.0)


def test_cdc_apply_merge_semantics(spark):
    from maston_spark.relational import cdc_apply

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", "U", 1),   # update key 2
            (2, "b3", "U", 5),   # later update wins
            (3, "c", "D", 1),    # delete key 3
            (4, "d", "U", 1),    # insert-by-upsert of a new key
            (5, "e", "U", 1),    # inserted then deleted -> absent
            (5, "e", "D", 2),
        ],
        "k long, v string, op string, seq long",
    )
    got = {
        r.k: r.v for r in cdc_apply(base, changes, ["k"], "seq").collect()
    }
    assert got == {1: "a", 2: "b3", 4: "d"}

    # empty change stream is the identity
    empty = spark.createDataFrame([], "k long, v string, op string, seq long")
    assert {
        r.k for r in cdc_apply(base, empty, ["k"], "seq").collect()
    } == {1, 2, 3}


def test_gapfill_interpolation_golden(spark):
    from datetime import datetime

    from maston_spark.relational import gapfill_locf

    rows = [
        ("a", datetime(2024, 1, 1, 0, 30), 1.0),
        ("a", datetime(2024, 1, 1, 4, 30), 9.0),  # 4-bucket span
    ]
    df = spark.createDataFrame(rows, "s string, ts timestamp, value double")
    got = {
        r.bucket.hour: r
        for r in gapfill_locf(df, "s", "ts", "value", interpolate=True).collect()
    }
    assert [got[h].interp_sum for h in range(5)] == [1.0, 3.0, 5.0, 7.0, 9.0]
    # LOCF still carries the LAST observation across the gap
    assert [got[h].locf_sum for h in range(5)] == [1.0, 1.0, 1.0, 1.0, 9.0]
    # observed buckets pass their own value through
    assert got[0].is_gap is False and got[2].is_gap is True


# ---------------------------------------------------------- property test

from hypothesis import given, settings, strategies as st  # noqa: E402

_change = st.tuples(
    st.integers(min_value=0, max_value=6),           # key
    st.text(alphabet="abc", min_size=1, max_size=2), # value
    st.sampled_from(["U", "D"]),                     # op
)


@settings(max_examples=15, deadline=None)
@given(changes=st.lists(_change, min_size=0, max_size=12))
def test_cdc_apply_matches_sequential_replay(spark, changes):
    from maston_spark.relational import cdc_apply

    base_rows = [(k, f"base{k}") for k in range(4)]
    # seq = log position (unique per change, monotonically increasing)
    ch_rows = [(k, v, op, i) for i, (k, v, op) in enumerate(changes)]

    # reference: replay the log sequentially over a dict
    state = dict(base_rows)
    for k, v, op, _ in ch_rows:
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    base = spark.createDataFrame(base_rows, "k long, v string")
    ch = spark.createDataFrame(
        ch_rows, "k long, v string, op string, seq long"
    ) if ch_rows else spark.createDataFrame([], "k long, v string, op string, seq long")
    got = {r.k: r.v for r in cdc_apply(base, ch, ["k"], "seq").collect()}
    assert got == state


def test_interval_join_overlap_and_contains(spark):
    """Bucketized interval join: exact overlap semantics, ONE output
    row per overlapping pair even when the pair shares several
    buckets, and the plan is an equi-join on the bucket key (never a
    nested-loop theta scan)."""
    from pyspark.sql import functions as F

    from maston_spark.relational import interval_join

    left = spark.createDataFrame(
        [(1, 0, 100), (2, 200, 300), (3, 50, 260)],
        "lid long, ls long, le long",
    )
    right = spark.createDataFrame(
        [(10, 90, 110), (11, 250, 255), (12, 400, 500)],
        "rid long, rs long, re long",
    )
    got = {
        (r.lid, r.rid)
        for r in interval_join(
            left, right, "ls", "le", "rs", "re", bucket_width=10
        ).collect()
    }
    # pair (3,11) shares buckets 25 — and (1,10) spans buckets 9..11
    # on both sides: still exactly one row each
    assert got == {(1, 10), (3, 10), (2, 11), (3, 11)}
    rows = interval_join(
        left, right, "ls", "le", "rs", "re", bucket_width=10
    ).collect()
    assert len(rows) == 4  # no duplicate bucket hits
    # contains mode: only l fully containing r
    got_c = {
        (r.lid, r.rid)
        for r in interval_join(
            left, right, "ls", "le", "rs", "re",
            bucket_width=10, how_overlap="contains",
        ).collect()
    }
    assert got_c == {(3, 10), (3, 11), (2, 11)}
    # the plan is an equi join on the bucket (SortMergeJoin /
    # BroadcastHashJoin), never BroadcastNestedLoopJoin
    plan = (
        interval_join(left, right, "ls", "le", "rs", "re", bucket_width=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan, plan[:800]


def test_cusum_changepoint_golden(spark):
    from datetime import datetime

    from maston_spark.relational import cusum_changepoint

    # hourly counts [2,2,2,8,8]: the rate jumps after hour 3, so the
    # scaled CUSUM n*S = [-12,-24,-36,-18,0] peaks (in |.|) at hour 3
    rows = []
    for hour, n in enumerate([2, 2, 2, 8, 8]):
        for i in range(n):
            rows.append(("a", datetime(2026, 1, 1, hour, 7 * i % 60)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = cusum_changepoint(df, "event_type", "ts", unit="hour").collect()[0]
    assert r.n_buckets == 5 and r.total_events == 22
    assert r.changepoint_ts == datetime(2026, 1, 1, 2)
    assert r.cusum_scaled == -36
    assert r.cusum == -36 / 5

    # flat series: S is identically 0 -> earliest bucket wins the tie
    flat = spark.createDataFrame(
        [("b", datetime(2026, 1, 1, h)) for h in range(4)],
        "event_type string, ts timestamp",
    )
    r = cusum_changepoint(flat, "event_type", "ts", unit="hour").collect()[0]
    assert r.cusum_scaled == 0 and r.changepoint_ts == datetime(2026, 1, 1, 0)


def test_ks_drift_golden(spark):
    from maston_spark.profiling import ks_drift

    # A: [1,1,2]  B: [2,3,3] -> F_A=[2/3,1,1], F_B=[0,1/3,1];
    # max gap 2/3 at v=1 (scaled: |3*2 - 3*0| = 6 over n_a*n_b = 9)
    rows = [("A", 1), ("A", 1), ("A", 2), ("B", 2), ("B", 3), ("B", 3)]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {r.g: r for r in ks_drift(df, "g", "v").collect()}
    for g in ("A", "B"):
        assert got[g].n_group == 3 and got[g].n_rest == 3
        assert got[g].ks_scaled == 6
        assert got[g].ks == 6 / 9

    # identical distributions -> zero drift
    same = spark.createDataFrame(
        [("A", 1), ("A", 2), ("B", 1), ("B", 2)], "g string, v long"
    )
    got = {r.g: r.ks_scaled for r in ks_drift(same, "g", "v").collect()}
    assert got == {"A": 0, "B": 0}


def test_suggest_constraints_golden(spark):
    from maston_spark.profiling import suggest_constraints

    rows = [
        (1, "A", 1.5, None),
        (2, "B", 2.5, "x"),
        (3, "A", 3.5, "x"),
    ]
    df = spark.createDataFrame(rows, "id long, cat string, val double, maybe string")
    got = {
        (r.col_name, r.rule): r
        for r in suggest_constraints(df, ["id", "cat", "val", "maybe"]).collect()
    }
    # id: no nulls, all distinct, numeric
    assert ("id", "not_null") in got and ("id", "unique") in got
    assert got[("id", "range")].param_lo == 1.0 and got[("id", "range")].param_hi == 3.0
    # cat: 2 distinct -> accepted_values with sorted joined values
    assert got[("cat", "accepted_values")].param_values == "A,B"
    assert ("cat", "unique") not in got
    # val: unique numeric
    assert ("val", "unique") in got and ("val", "range") in got
    # maybe: has a NULL -> no not_null, no unique; 1 distinct -> no
    # accepted_values (constant columns suggest nothing useful)
    assert all(k[0] != "maybe" for k in got)


def test_seasonal_anomalies_golden(spark):
    from datetime import datetime

    from maston_spark.relational import seasonal_anomalies

    # hour-of-day 3 across four days: counts [2, 2, 2, 10] -> seasonal
    # mean 4; the 10-bucket is > 2x mean (high), the 2-buckets are
    # NOT < 0.5x mean (2*2*4=16 !< 16) -> exactly one flag
    rows = []
    for day, n in zip(range(1, 5), [2, 2, 2, 10]):
        for i in range(n):
            rows.append(("a", datetime(2026, 1, day, 3, i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = seasonal_anomalies(df, "event_type", "ts", factor=2).collect()
    assert len(out) == 1
    r = out[0]
    assert r.direction == "high" and r.n_events == 10
    assert r.bucket_ts == datetime(2026, 1, 4, 3)
    assert r.season_buckets == 4 and r.season_events == 16

    # a clearly-low bucket: counts [8, 8, 8, 1] -> mean 6.25;
    # 2*1*4 = 8 < 25 -> low flag on the 1-bucket
    rows = []
    for day, n in zip(range(1, 5), [8, 8, 8, 1]):
        for i in range(n):
            rows.append(("b", datetime(2026, 2, day, 5, i)))
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = seasonal_anomalies(df, "event_type", "ts", factor=2).collect()
    assert [(r.direction, r.n_events) for r in out] == [("low", 1)]


def test_grouped_quantile_bins_golden(spark):
    from maston_spark.relational import grouped_quantile_bins

    # group A: 1..8 -> quartile edges (percentile_cont) 2.75/4.5/6.25:
    # bins of 2 rows each; group B shifted by 100 bins independently
    rows = [("A", float(i)) for i in range(1, 9)] + [
        ("B", float(100 + i)) for i in range(1, 9)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {
        (r.g, r.bin): (r.n_rows, r.min_val, r.max_val)
        for r in grouped_quantile_bins(df, "g", "v", n_bins=4).collect()
    }
    assert got[("A", 0)] == (2, 1.0, 2.0)
    assert got[("A", 1)] == (2, 3.0, 4.0)
    assert got[("A", 2)] == (2, 5.0, 6.0)
    assert got[("A", 3)] == (2, 7.0, 8.0)
    # B's bins cut at B's OWN percentiles, not A's
    assert got[("B", 0)] == (2, 101.0, 102.0)
    assert got[("B", 3)] == (2, 107.0, 108.0)


def test_table_fingerprint_golden(spark):
    from maston_spark.relational import table_fingerprint

    rows = [(1, "a"), (2, "b"), (3, None)]
    df = spark.createDataFrame(rows, "id long, s string")
    base = table_fingerprint(df).collect()[0]
    assert base.n_rows == 3

    # order/partitioning-insensitive: same multiset -> same fingerprint
    shuffled = spark.createDataFrame(list(reversed(rows)), "id long, s string")
    alt = table_fingerprint(shuffled.repartition(5)).collect()[0]
    assert (alt.n_rows, alt.xor_fp, alt.sum_fp) == (
        base.n_rows, base.xor_fp, base.sum_fp
    )

    # any changed cell changes the fingerprint
    mut = spark.createDataFrame([(1, "a"), (2, "b"), (3, "x")], "id long, s string")
    m = table_fingerprint(mut).collect()[0]
    assert m.xor_fp != base.xor_fp

    # NULL sentinel keeps (NULL,'x') distinct from ('x',NULL)
    a = table_fingerprint(
        spark.createDataFrame([(None, "x")], "p string, q string")
    ).collect()[0]
    b = table_fingerprint(
        spark.createDataFrame([("x", None)], "p string, q string")
    ).collect()[0]
    assert a.xor_fp != b.xor_fp

    # duplicate-pair insertion is invisible to XOR but not to sum/count
    dup = spark.createDataFrame(rows + [rows[0], rows[0]], "id long, s string")
    d = table_fingerprint(dup).collect()[0]
    assert d.xor_fp == base.xor_fp and d.n_rows != base.n_rows
    assert d.sum_fp != base.sum_fp


def test_cumulative_reach_golden(spark):
    from datetime import datetime

    from maston_spark.relational import cumulative_reach

    rows = [
        ("u1", datetime(2026, 1, 1, 5)),
        ("u1", datetime(2026, 1, 2, 6)),   # returning: not new
        ("u2", datetime(2026, 1, 1, 9)),
        ("u3", datetime(2026, 1, 3, 1)),
        (None, datetime(2026, 1, 3, 2)),   # null user excluded
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        r.bucket_ts: (r.new_users, r.cumulative_users)
        for r in cumulative_reach(df, "user_id", "ts").collect()
    }
    assert got == {
        datetime(2026, 1, 1): (2, 2),
        datetime(2026, 1, 3): (1, 3),
    }


_point = st.tuples(
    st.integers(min_value=0, max_value=9),   # quality (maximize)
    st.integers(min_value=0, max_value=9),   # cost (minimize)
)


@settings(max_examples=15, deadline=None)
@given(pts=st.lists(_point, min_size=1, max_size=14))
def test_pareto_frontier_matches_bruteforce(spark, pts):
    from maston_spark.llm.sampling import pareto_frontier

    rows = [(i, float(q), int(c)) for i, (q, c) in enumerate(pts)]

    def dominated(a, b):  # does b weakly dominate a (one strict)?
        return b[1] >= a[1] and b[2] <= a[2] and (b[1] > a[1] or b[2] < a[2])

    expect = sorted(
        r[0] for r in rows if not any(dominated(r, o) for o in rows)
    )
    df = spark.createDataFrame(rows, "id long, q double, c long").repartition(3)
    got = sorted(r.id for r in pareto_frontier(df, "q", "c").collect())
    assert got == expect, (rows, got, expect)


@settings(max_examples=15, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=6),
    num=st.integers(min_value=0, max_value=5),
)
def test_water_fill_invariants(spark, sizes, num):
    """For any domain sizes and budget fraction num/5: allocations
    never exceed sizes, sum to min(budget, total) exactly, and the
    water line is even — no above-line domain differs from another
    by more than the one remainder unit."""
    from maston_spark.llm.sampling import domain_water_fill

    rows = [(f"d{i}", j) for i, n in enumerate(sizes) for j in range(n)]
    if not rows:
        return  # all-empty domains produce no rows at all
    df = spark.createDataFrame(rows, "d string, x long")
    got = {r.domain: (r.n_docs, r.alloc)
           for r in domain_water_fill(df, "d", num, 5).collect()}
    total = sum(n for n, _ in got.values())
    budget = (total * num) // 5
    assert all(0 <= a <= n for n, a in got.values()), got
    assert sum(a for _, a in got.values()) == min(budget, total), (got, budget)
    # evenness: among domains NOT capped by their own size, the
    # allocations differ by at most 1
    uncapped = [a for n, a in got.values() if a < n]
    if uncapped:
        assert max(uncapped) - min(uncapped) <= 1, got


@settings(max_examples=12, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["A", "B", "C"]), st.integers(0, 8)),
        min_size=2,
        max_size=24,
    )
)
def test_ks_drift_matches_bruteforce(spark, vals):
    """ks_drift equals the brute-force max CDF gap (scaled-integer)
    for any group/value multiset with at least two groups."""
    from maston_spark.profiling import ks_drift

    groups = {g for g, _ in vals}
    if len(groups) < 2:
        return
    df = spark.createDataFrame(vals, "g string, v long").repartition(3)
    got = {r.g: (r.n_group, r.n_rest, r.ks_scaled) for r in ks_drift(df, "g", "v").collect()}
    domain = sorted({v for _, v in vals})
    for g in groups:
        mine = sorted(v for gg, v in vals if gg == g)
        rest = sorted(v for gg, v in vals if gg != g)
        best = 0
        for x in domain:
            cg = sum(1 for v in mine if v <= x)
            cr = sum(1 for v in rest if v <= x)
            best = max(best, abs(len(rest) * cg - len(mine) * cr))
        assert got[g] == (len(mine), len(rest), best), (vals, g, got[g], best)


@settings(max_examples=12, deadline=None)
@given(
    counts=st.lists(st.integers(min_value=0, max_value=9), min_size=1, max_size=10)
)
def test_cusum_matches_bruteforce(spark, counts):
    """cusum_changepoint equals the brute-force argmax of |n*S_i| over
    the hourly bucket series, earliest-bucket tiebreak."""
    from datetime import datetime

    from maston_spark.relational import cusum_changepoint

    rows = []
    buckets = []
    for h, n in enumerate(counts):
        if n:
            buckets.append((h, n))
            rows.extend(("g", datetime(2026, 3, 1, h, m)) for m in range(n))
    if not buckets:
        return
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = cusum_changepoint(df, "event_type", "ts", unit="hour").collect()[0]
    nb = len(buckets)
    tot = sum(n for _, n in buckets)
    cum = 0
    best = None
    for i, (h, n) in enumerate(buckets, start=1):
        cum += n
        scaled = nb * cum - i * tot
        if best is None or abs(scaled) > abs(best[1]):
            best = (h, scaled)
    assert r.n_buckets == nb and r.total_events == tot
    assert r.cusum_scaled == best[1], (counts, r.cusum_scaled, best)
    assert r.changepoint_ts == datetime(2026, 3, 1, best[0])


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["A", "B", "C"]), st.integers(0, 20)),
        min_size=4,
        max_size=30,
    ),
    n_bins=st.integers(min_value=2, max_value=5),
)
def test_binned_tvd_drift_matches_bruteforce(spark, vals, n_bins):
    """binned_tvd_drift equals the brute-force half-L1 distance of
    the two binned pmfs for any multiset, bin count, and grouping —
    with bin edges the exact percentile_cont cut points of the
    pooled values (replicated here with numpy's linear method)."""
    import numpy as np

    from maston_spark.profiling import binned_tvd_drift

    groups = {g for g, _ in vals}
    if len(groups) < 2:
        return
    df = spark.createDataFrame(vals, "g string, v long").repartition(3)
    got = {
        r.g: (r.n_group, r.n_rest, r.tvd)
        for r in binned_tvd_drift(df, "g", "v", n_bins=n_bins).collect()
    }
    pooled = np.array(sorted(float(v) for _, v in vals))
    edges = [
        float(np.quantile(pooled, i / n_bins, method="linear"))
        for i in range(1, n_bins)
    ]

    def bin_of(x):
        return sum(1 for e in edges if x > e)

    for g in groups:
        mine = [float(v) for gg, v in vals if gg == g]
        rest = [float(v) for gg, v in vals if gg != g]
        ng, mg = len(mine), len(rest)
        num = 0
        for b in range(n_bins):
            n_i = sum(1 for x in mine if bin_of(x) == b)
            m_i = sum(1 for x in rest if bin_of(x) == b)
            num += abs(n_i * mg - m_i * ng)
        expect = num / (2.0 * ng * mg)
        assert got[g][:2] == (ng, mg), (g, got[g])
        assert abs(got[g][2] - expect) < 1e-12, (vals, n_bins, g, got[g][2], expect)


@settings(max_examples=10, deadline=None)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(0, 30),
            st.integers(1, 9),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_weighted_percentiles_match_bruteforce(spark, vals):
    """weighted_percentiles equals the brute-force smallest value
    whose cumulative weight reaches p*W, for any multiset of
    (group, value, weight)."""
    from maston_spark.relational import weighted_percentiles

    df = spark.createDataFrame(vals, "g string, v long, w long").repartition(3)
    got = {
        r.g: (r.p50, r.p90)
        for r in weighted_percentiles(
            df, "g", "v", "w", [0.5, 0.9], ["p50", "p90"]
        ).collect()
    }
    for g in {x for x, _, _ in vals}:
        rows = sorted((v, w) for gg, v, w in vals if gg == g)
        W = sum(w for _, w in rows)
        expect = []
        for p in (0.5, 0.9):
            cum = 0
            pick = None
            seen = {}
            for v, w in rows:
                seen[v] = seen.get(v, 0) + w
            cum = 0
            for v in sorted(seen):
                cum += seen[v]
                if cum >= p * W:
                    pick = v
                    break
            expect.append(pick)
        assert got[g] == tuple(expect), (vals, g, got[g], expect)


def test_binned_tvd_drift_single_group_emits_null(spark):
    """A group that IS the whole table has no rest distribution:
    n_rest = 0 and tvd is an explicit NULL, not a /0 artifact."""
    from maston_spark.profiling import binned_tvd_drift

    df = spark.createDataFrame([("g", float(v)) for v in range(20)], "g string, v double")
    [r] = binned_tvd_drift(df, "g", "v", n_bins=4).collect()
    assert r.n_group == 20 and r.n_rest == 0
    assert r.tvd is None


def test_zorder_key_interleaves_bits(spark):
    """morton_interleave(x, y) == the reference Morton interleave for
    a grid of small values (bit i of x at position 2i, y at 2i+1) —
    the shared primitive under both zorder_key and
    zorder_layout_report."""
    from maston_spark.partitioning import morton_interleave

    rows = [(x, y) for x in range(8) for y in range(8)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {
        (r.x, r.y): r.z
        for r in df.select(
            "x", "y", morton_interleave([F.col("x"), F.col("y")], 4).alias("z")
        ).collect()
    }

    def morton(x, y):
        z = 0
        for i in range(4):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {(x, y): morton(x, y) for x, y in rows}


def test_zorder_layout_bounds_both_dimensions(spark):
    """On a uniform 2-D grid: every z-order file bounds BOTH
    normalized spans strictly below the domain, while the
    single-column layout leaves x_span at (nearly) full domain —
    the pruning property the report exists to expose."""
    from maston_spark.relational import zorder_layout_report

    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "x int, y int").repartition(8)
    rep = zorder_layout_report(df, "x", "y", bits=16, file_bits=4).collect()
    z = [r for r in rep if r.layout == "zorder"]
    s = [r for r in rep if r.layout == "single"]
    assert len(z) == 16 and len(s) == 16
    assert all(r.x_span < 40000 and r.y_span < 40000 for r in z), z
    assert all(r.x_span > 60000 for r in s), s
    # file assignment partitions all rows
    assert sum(r.n_rows for r in z) == 64 * 64


def test_scd2_history_runs_and_intervals(spark):
    """SCD2 construction: runs collapse, intervals chain half-open,
    exactly one current row per key, null states form runs too."""
    from datetime import datetime

    from maston_spark.relational import scd2_history

    rows = [
        # key, ts, state, tiebreak
        ("u1", datetime(2024, 1, 1, 0, 0, 0), "bronze", 1),
        ("u1", datetime(2024, 1, 2, 0, 0, 0), "bronze", 2),  # same run
        ("u1", datetime(2024, 1, 3, 0, 0, 0), "silver", 3),
        ("u1", datetime(2024, 1, 4, 0, 0, 0), "bronze", 4),  # back again
        ("u2", datetime(2024, 1, 1, 0, 0, 0), None, 5),      # null run
        ("u2", datetime(2024, 1, 2, 0, 0, 0), None, 6),
        ("u2", datetime(2024, 1, 3, 0, 0, 0), "gold", 7),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, v string, tb int"
    ).repartition(3)
    key = lambda t: (t[0], t[2])  # (key, valid_from) — unique, None-safe
    out = sorted(
        (
            (r.k, r.state, r.valid_from_us, r.valid_to_us, r.is_current)
            for r in scd2_history(df, "k", "ts", "v", "tb").collect()
        ),
        key=key,
    )
    us = lambda d, h=0: int(datetime(2024, 1, d).timestamp() * 1_000_000)
    assert out == sorted(
        [
            ("u1", "bronze", us(1), us(3), False),
            ("u1", "silver", us(3), us(4), False),
            ("u1", "bronze", us(4), None, True),
            ("u2", None, us(1), us(3), False),
            ("u2", "gold", us(3), None, True),
        ],
        key=key,
    )
    # exactly one current row per key; intervals chain
    cur = [r for r in out if r[4]]
    assert len(cur) == 2


@pytest.mark.parametrize("num_partitions", [1, None, 32], ids=["1", "cores", "32"])
def test_global_rank_matches_windowed_row_number(spark, num_partitions):
    """Two-phase global_rank == the single-task row_number window for
    a multiset with duplicate sort keys (total order via tiebreaker),
    across an input partitioning the range exchange must override, at
    one range partition, the default (the cores) and 32: the ranks do
    not depend on the partition count."""
    from maston_spark.relational import global_rank

    rows = [(i % 17, f"t{i:04d}") for i in range(500)]
    df = spark.createDataFrame(rows, "freq int, tok string").repartition(7)
    got = {
        (r.freq, r.tok): r.rank
        for r in global_rank(
            df,
            [F.col("freq").desc(), F.col("tok").asc()],
            rank_col="rank",
            num_partitions=num_partitions,
        ).collect()
    }
    expected_order = sorted(rows, key=lambda t: (-t[0], t[1]))
    expected = {kv: i + 1 for i, kv in enumerate(expected_order)}
    assert got == expected
    # ranks are a dense 1..n permutation
    assert sorted(got.values()) == list(range(1, 501))


def test_global_rank_empty_and_single_partition(spark):
    from maston_spark.relational import global_rank

    empty = spark.createDataFrame([], "v int")
    assert global_rank(empty, [F.col("v").asc()]).count() == 0
    one = spark.createDataFrame([(5,), (3,), (9,)], "v int")
    out = {r.v: r.rank for r in global_rank(one, [F.col("v").asc()], num_partitions=1).collect()}
    assert out == {3: 1, 5: 2, 9: 3}


def test_salted_join_equals_plain_join(spark):
    """Salting is a pure partitioning trick: the salted inner join's
    result multiset equals the plain join's, including duplicate
    keys on both sides; right/full joins are rejected."""
    import pytest as _pytest

    from maston_spark.relational import salted_join

    left = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c"), (3, "d"), (3, "e"), (3, "f")],
        "k int, lv string",
    ).repartition(4)
    right = spark.createDataFrame(
        [(1, "X"), (1, "Y"), (3, "Z"), (4, "W")], "k int, rv string"
    )
    got = sorted(
        (r.k, r.lv, r.rv)
        for r in salted_join(left, right, "k", n_salts=5).collect()
    )
    plain = sorted(
        (r.k, r.lv, r.rv) for r in left.join(right, "k", "inner").collect()
    )
    assert got == plain and len(plain) == 7
    with _pytest.raises(ValueError, match="salted_join supports"):
        salted_join(left, right, "k", how="full")


def test_salted_join_spreads_identical_rows(spark):
    """Regression (round-12 advice): a pure content-hash salt
    degenerates exactly where salting matters most — when a hot
    key's rows are byte-identical (key-only projection, deduplicated
    fact, repeated events), every occurrence hashes to ONE salt and
    the hot key still lands in a single task. The per-row
    disambiguator must spread identical rows across salts."""
    from maston_spark.relational import salted_join

    # 4000 IDENTICAL left rows (one key, no payload variation)
    left = spark.range(4000).select(F.lit(7).alias("k")).repartition(8)
    right = spark.createDataFrame([(7, "hot")], "k int, name string")
    n_salts = 8
    lj = left.withColumn(
        "__salt",
        F.pmod(
            F.xxhash64(
                *[F.col(c) for c in left.columns],
                F.monotonically_increasing_id(),
            ),
            F.lit(n_salts),
        ).cast("int"),
    )
    distinct_salts = lj.select("__salt").distinct().count()
    assert distinct_salts >= n_salts - 1, distinct_salts
    # and the join result is still exactly the plain join
    out = salted_join(left, right, "k", n_salts=n_salts)
    assert out.count() == 4000
    assert out.select("name").distinct().collect()[0].name == "hot"


@settings(max_examples=8, deadline=None)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=60),
    target=st.integers(min_value=100, max_value=1000),
)
def test_compaction_plan_bound_and_conservation(spark, sizes, target):
    """For ANY file-size multiset and target: every planned group's
    total is <= target + its largest member, all files are assigned
    exactly once, and totals are conserved."""
    from maston_spark.relational import compaction_plan

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], "id long, sz long"
    ).repartition(3)
    out = compaction_plan(df, "id", "sz", target).collect()
    assert sum(r.n_files for r in out) == len(sizes)
    assert sum(r.total_size for r in out) == sum(sizes)
    for r in out:
        assert r.total_size <= target + r.max_file, (r, target)


def test_cooccurrence_pairs_hand_case_and_giant_basket_excluded(spark):
    from maston_spark.relational import cooccurrence_pairs

    rows = (
        [(1, "a"), (1, "b"), (1, "c"),
         (2, "a"), (2, "b"),
         (3, "a"), (3, "b"), (3, "b"),  # duplicate item dedups
         (4, "c")]
        # giant basket: co-occurs everything with everything — excluded
        + [(9, f"z{i}") for i in range(40)]
    )
    df = spark.createDataFrame(rows, "basket int, item string")
    got = [
        (r.item_a, r.item_b, r.support)
        for r in cooccurrence_pairs(
            df, "basket", "item", min_support=2, top_k=10, max_basket_size=30
        ).collect()
    ]
    assert got == [("a", "b", 3)]
    # with the giant basket admitted, its pairs flood the census
    flood = cooccurrence_pairs(
        df, "basket", "item", min_support=1, top_k=1000, max_basket_size=50
    ).count()
    assert flood > 700  # C(40,2) = 780 z-pairs present


def test_trimmed_stats_hand_case(spark):
    """1..9 plus a wild 1000: 10% trim drops rank 1 and rank 10, so
    the trimmed mean is mean(2..9) = 5.5; winsorized clamps 1 -> 2
    and 1000 -> 9 giving mean 5.5 as well (by symmetry of this set);
    untrimmed mean is 104.5."""
    from maston_spark.relational import trimmed_stats

    rows = [("g", float(v)) for v in range(1, 10)] + [("g", 1000.0)]
    df = spark.createDataFrame(rows, "g string, v double").repartition(3)
    [r] = trimmed_stats(df, "g", "v", trim=0.1).collect()
    assert (r.n_rows, r.n_kept) == (10, 8)
    assert r.trimmed_mean == 5.5
    # winsorized: (sum(2..9) + 1*2 + 1*9) / 10 = (44 + 11) / 10
    assert r.winsorized_mean == 5.5
    # trim=0 degenerates to the plain mean
    [r0] = trimmed_stats(df, "g", "v", trim=0.0).collect()
    assert r0.trimmed_mean == 104.5 and r0.n_kept == 10


def test_pruning_effectiveness_zorder_prunes_both_axes(spark):
    """On a uniform 2-D grid: the single-column (y-sorted) layout
    prunes ~0 files for x predicates while z-order prunes most files
    on BOTH axes — the measured version of the q205 span claim."""
    from maston_spark.relational import pruning_effectiveness

    n = 20_000
    df = spark.range(n).select(
        (F.col("id") % 141).alias("x"),
        ((F.col("id") * 7919) % 149).alias("y"),
    )
    out = {
        (r.layout, r.pred_dim): r.prune_frac
        for r in pruning_effectiveness(
            df, "x", "y", bits=16, file_bits=4, n_predicates=8
        ).collect()
    }
    assert out[("single", "x")] < 0.1
    assert out[("single", "y")] > 0.5
    assert out[("zorder", "x")] > 0.5
    assert out[("zorder", "y")] > 0.5


def test_period_delta_topk_hand_case(spark):
    """New item (NULL pct), vanished item (-1.0), surge ordering by
    |delta| with item tiebreak."""
    import datetime as dt

    from maston_spark.profiling import period_delta_topk

    before, after = dt.datetime(2024, 1, 1), dt.datetime(2024, 2, 1)
    rows = (
        [("steady", before)] * 5 + [("steady", after)] * 5
        + [("surge", before)] * 1 + [("surge", after)] * 9
        + [("gone", before)] * 6
        + [("new", after)] * 4
    )
    df = spark.createDataFrame(rows, "item string, ts timestamp")
    out = [
        (r.item, r.n_before, r.n_after, r.delta, r.pct_change)
        for r in period_delta_topk(df, "ts", "item", "2024-01-15", k=10).collect()
    ]
    assert out[0] == ("surge", 1, 9, 8, 8.0)
    assert out[1] == ("gone", 6, 0, -6, -1.0)
    assert out[2] == ("new", 0, 4, 4, None)
    assert out[3] == ("steady", 5, 5, 0, 0.0)


def test_transition_lift_hand_case(spark):
    """a->b always follows (confidence 1), c->d never co-occurs with
    a's outgoing mass; lift of a->b exceeds 1 exactly as the
    cross-multiplied marginals dictate."""
    import datetime as dt

    from maston_spark.relational import transition_lift

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    eid = 0
    # 3 users: a b a b (transitions a->b x2, b->a x1 each)
    for u in range(3):
        for i, e in enumerate(["a", "b", "a", "b"]):
            eid += 1
            rows.append((u, e, t0 + dt.timedelta(minutes=i), eid))
    # 1 user: c d c d
    for i, e in enumerate(["c", "d", "c", "d"]):
        eid += 1
        rows.append((9, e, t0 + dt.timedelta(minutes=i), eid))
    df = spark.createDataFrame(rows, "u long, e string, ts timestamp, eid long")
    out = {
        (r.event_a, r.event_b): (r.n_ab, r.confidence, r.lift)
        for r in transition_lift(df, "u", "ts", "e", "eid", 1, 20).collect()
    }
    # totals: a->b 6, b->a 3, c->d 2, d->c 1 => N=12
    assert out[("a", "b")][0] == 6
    assert out[("a", "b")][1] == 1.0  # a only ever goes to b
    # lift(a->b) = 6*12 / (6 * 9)... n_a.=6, n_.b=6 -> 72/36 = 2.0
    assert out[("a", "b")][2] == 2.0
    assert out[("c", "d")][1] == 1.0
    # lift(c->d) = 2*12 / (2*2) = 6.0 — rarer pair, stronger lift
    assert out[("c", "d")][2] == 6.0


def test_bloom_pruned_join_is_identity_to_plain_join(spark):
    """The Bloom filter pre-prune must never change the inner-join
    result (zero false negatives by construction); the pruned fact
    side must actually shrink when the dim is selective."""
    from maston_spark.relational import bloom_pruned_join

    fact = spark.createDataFrame(
        [(i % 1000, f"v{i}") for i in range(5000)], "k int, payload string"
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 1000, 50)], "dk int, dname string"
    )
    got = sorted(
        (r.k, r.payload, r.dk, r.dname)
        for r in bloom_pruned_join(fact, dim, "k", "dk").collect()
    )
    want = sorted(
        (r.k, r.payload, r.dk, r.dname)
        for r in fact.join(dim, fact["k"] == dim["dk"], "inner").collect()
    )
    assert got == want and len(got) == 100


def test_bloom_pruned_join_same_name_key_single_column(spark):
    """fact_key == dim_key must behave like the plain on=\"key\" join:
    ONE key column out, downstream references unambiguous."""
    from maston_spark.relational import bloom_pruned_join

    fact = spark.createDataFrame([(i % 10, i) for i in range(100)], "id int, v int")
    dim = spark.createDataFrame([(3, "x"), (7, "y")], "id int, tag string")
    out = bloom_pruned_join(fact, dim, "id", "id")
    assert out.columns.count("id") == 1
    agg = out.groupBy("id").count().collect()  # no AMBIGUOUS_REFERENCE
    assert {r.id: r["count"] for r in agg} == {3: 10, 7: 10}


def test_bloom_pruned_join_coerces_divergent_key_types(spark):
    """decimal(18,2) fact keys vs bigint dim keys: the plain join
    type-coerces and matches ('1.00' == 1), so the Bloom probe must
    hash BOTH sides in the coerced type — a string-form divergence
    would produce false negatives and break the identity contract."""
    from pyspark.sql import functions as F

    from maston_spark.relational import bloom_pruned_join

    fact = spark.createDataFrame(
        [(i % 20, i) for i in range(400)], "kraw int, v int"
    ).select(F.col("kraw").cast("decimal(18,2)").alias("k"), "v")
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 20, 3)], "dk long, dname string"
    )
    got = sorted(
        (float(r.k), r.v, r.dk, r.dname)
        for r in bloom_pruned_join(fact, dim, "k", "dk").collect()
    )
    want = sorted(
        (float(r.k), r.v, r.dk, r.dname)
        for r in fact.join(dim, fact["k"] == dim["dk"], "inner").collect()
    )
    assert got == want and len(got) == 140


@pytest.mark.parametrize("m", [1001, 0, ((4 << 20) + 1) * 8])
def test_bloom_pruned_join_rejects_bad_filter_size_before_any_job(spark, m):
    """The one Bloom bound: m must be a positive multiple of 8 with
    m/8 at most 4 MiB. m=1001 used to index past the 125-byte bitmap
    inside a Python worker; now every bad size raises ValueError on
    the driver and no Spark job runs."""
    from maston_spark.relational import bloom_pruned_join

    fact = spark.createDataFrame([(i, i) for i in range(10)], "k int, v int")
    dim = spark.createDataFrame([(1, "a")], "dk int, dname string")
    sc = spark.sparkContext
    sc.setJobGroup("bloom-bad-m", "bloom bound check")
    try:
        with pytest.raises(ValueError, match="multiple of 8"):
            bloom_pruned_join(fact, dim, "k", "dk", m=m)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("bloom-bad-m")) == []


def test_q244_revenue_with_trailing_zero_matches_oracle(spark, tmp_path):
    """q244's revenue ends in 0 at the 4th decimal (101.1200 = 2 x
    50.56): the DuckDB oracle's DECIMAL reaches pandas as the double
    101.12, so Spark must hand over a double too, or the checker sees
    '101.1200' != '101.12'."""
    import duckdb

    from maston_spark.queries import REGISTRY
    from maston_spark.queries.analytics_q import q244_bloom_pruned_join
    from tools.check_correctness import compare

    spark.createDataFrame(
        [(1, "R", 50.56, 0.0), (1, "R", 50.56, 0.0), (2, "A", 20.0, 0.5), (3, "N", 9.0, 0.0)],
        "l_orderkey long, l_returnflag string, l_extendedprice double, l_discount double",
    ).coalesce(1).write.parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, "1-URGENT"), (2, "1-URGENT"), (3, "5-LOW")],
        "o_orderkey long, o_orderpriority string",
    ).coalesce(1).write.parquet(str(tmp_path / "orders.parquet"))
    con = duckdb.connect()
    for t in ("lineitem", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet/*.parquet'")
    got = q244_bloom_pruned_join(spark, str(tmp_path)).toPandas()
    want = con.execute(REGISTRY["q244_bloom_pruned_join"].oracle).df()
    assert compare("q244_bloom_pruned_join", got, want) == []
    assert sorted(got["revenue"]) == [10.0, 101.12]


def test_acf_matches_plain_python_and_flags_periodicity(spark):
    """A period-3 series has acf(3) ~ 1 and matches the plain-python
    estimator exactly at every lag; a constant series emits NULL."""
    from maston_spark.relational import acf

    xs = [5, 1, 2] * 6  # period 3, n=18
    rows = [("p", i, xs[i]) for i in range(len(xs))] + [
        ("const", i, 7) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "s string, t int, x long")
    out = {(r.series, r.lag): r.acf for r in acf(df, "s", "t", "x", max_lag=4).collect()}
    n = len(xs)
    m = sum(xs) / n
    den = sum((v - m) ** 2 for v in xs)
    for k in range(1, 5):
        num = sum((xs[t] - m) * (xs[t + k] - m) for t in range(n - k))
        assert out[("p", k)] == round(num / den, 6), k
    # lag-3 on an exactly periodic series: num has n-3 of the n
    # denominator terms -> (n-k)/n = 15/18
    assert out[("p", 3)] == round(15 / 18, 6)
    assert all(out[("const", k)] is None for k in range(1, 5))


def test_seasonal_naive_mase_recovers_planted_seasonality(spark):
    """A strongly weekly series beats naive-1 (mase < 1) and both
    MAEs match hand sums; a too-short series emits NULL mase."""
    from maston_spark.relational import seasonal_naive_mase

    week = [100, 10, 20, 30, 40, 50, 60]
    xs = week * 4  # exact weekly repetition -> seasonal MAE 0
    rows = [("w", i, xs[i]) for i in range(len(xs))] + [
        ("short", i, i) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "s string, t int, x long")
    out = {r.series: r for r in seasonal_naive_mase(df, "s", "t", "x", season=7).collect()}
    n = len(xs)
    e1 = sum(abs(xs[t] - xs[t - 1]) for t in range(1, n))
    assert out["w"].mae_seasonal == 0.0
    assert out["w"].mae_naive1 == round(e1 / (n - 1), 6)
    assert out["w"].mase == 0.0
    assert out["short"].mase is None


def test_quantile_normalize_forces_groups_onto_pooled_reference(spark):
    """After normalization each group's quantile values are corpus
    order statistics, and two groups drawn from shifted distributions
    land on (near-)identical per-quantile values; hand-check the
    type-1 index math on a tiny case."""
    from maston_spark.relational import quantile_normalize

    a = [float(v) for v in range(1, 21)]          # 1..20
    b = [float(v + 100) for v in range(1, 21)]    # 101..120 (shifted)
    rows = [("a", i, v) for i, v in enumerate(a)] + [
        ("b", i + 100, v) for i, v in enumerate(b)
    ]
    df = spark.createDataFrame(rows, "g string, i int, v double")
    out = {(r.group, r.quantile): r.norm_value
           for r in quantile_normalize(df, "g", "i", "v", n_quantiles=4).collect()}
    allv = sorted(a + b)
    n, ng = len(allv), 20
    for q in range(1, 5):
        r = -(-q * ng // 4)              # within-group ceil index
        ti = -(-r * n // ng)             # global ceil index
        want = allv[ti - 1]
        assert out[("a", q)] == want     # group a maps onto the pooled ref
    # shifted group lands on the same pooled reference values
    for q in range(1, 5):
        assert out[("b", q)] == out[("a", q)]


def test_grid_radius_join_matches_brute_force(spark):
    """The 3x3-stamped cell join returns EXACTLY the brute-force
    within-radius pair set (each pair once, id_a < id_b), including
    pairs that straddle cell boundaries."""
    from maston_spark.relational import grid_radius_join

    import itertools

    pts = [(i, (i * 7919) % 1000, (i * 104729) % 1000) for i in range(120)]
    df = spark.createDataFrame(pts, "pid int, x long, y long")
    r = 150
    got = sorted(
        (p.id_a, p.id_b, p.dist_sq)
        for p in grid_radius_join(df, "pid", "x", "y", r).collect()
    )
    want = sorted(
        (i, j, d2)
        for (i, xi, yi), (j, xj, yj) in itertools.combinations(pts, 2)
        if (d2 := (xi - xj) ** 2 + (yi - yj) ** 2) <= r * r
    )
    assert got == want and len(want) > 20


def test_fd_violations_exact_repair_cost(spark):
    """A true FD reports zero violations; a planted violator reports
    the exact violating-key count and minimum repair rows (rows minus
    per-key majority)."""
    from maston_spark.profiling import fd_violations

    rows = [
        # k=1 -> always 'a' (clean); k=2 -> 'a','a','b' (1 repair);
        # k=3 -> 'x','y' (1 repair); NULL det ignored
        (1, "a"), (1, "a"),
        (2, "a"), (2, "a"), (2, "b"),
        (3, "x"), (3, "y"),
        (None, "z"),
    ]
    df = spark.createDataFrame(rows, "k int, v string")
    [r] = fd_violations(df, [("k", "v")]).collect()
    assert r.n_rows == 7 and r.n_det_values == 3
    assert r.n_violating == 2 and r.repair_rows == 2
    assert r.violation_rate == round(2 / 3, 6)
    assert r.coverage == round(5 / 7, 6)
    # NULL dependents are values: (k, NULL) + (k, x) violates
    df2 = spark.createDataFrame([(1, "a"), (1, None)], "k int, v string")
    [r2] = fd_violations(df2, [("k", "v")]).collect()
    assert r2.n_violating == 1 and r2.repair_rows == 1


def test_theil_sen_ignores_outlier_and_matches_plain_python(spark):
    """A clean line with one wild outlier: Theil-Sen recovers the
    true slope where least squares would not; slope and intercept
    match a plain-python type-1 median replay."""
    from maston_spark.relational import theil_sen_slope

    pts = [(i, float(i), 3.0 * i + 10) for i in range(9)] + [(9, 9.0, 500.0)]
    df = spark.createDataFrame(
        [("s", i, x, y) for i, x, y in pts], "g string, i int, x double, y double"
    )
    [r] = theil_sen_slope(df, "g", "i", "x", "y").collect()
    slopes = sorted(
        (
            (y2 - y1) / (x2 - x1),
            i1,
            i2,
        )
        for (i1, x1, y1) in pts
        for (i2, x2, y2) in pts
        if i1 < i2 and x1 != x2
    )
    m = len(slopes)
    want_slope = slopes[(m + 1) // 2 - 1][0]
    assert r.slope == round(want_slope, 6) == 3.0
    resid = sorted((y - want_slope * x, i) for i, x, y in pts)
    want_icept = resid[(len(pts) + 1) // 2 - 1][0]
    assert r.intercept == round(want_icept, 6) == 10.0
    assert r.n_pairs == m


def test_theil_sen_group_split_across_arrow_batches(spark):
    """The round-16 pair-median kernel carries a group's rows across
    Arrow batch boundaries; force tiny batches and check the slope
    median against a plain-python replay."""
    from maston_spark.relational import theil_sen_slope

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    pts = {
        g: [
            (i, float((i * 7 + ord(g)) % 13), float((i * 5 + ord(g)) % 11))
            for i in range(40)
        ]
        for g in ("a", "b")
    }
    rows = [(g, i, x, y) for g, p in pts.items() for i, x, y in p]
    try:
        spark.conf.set(key, "16")
        df = spark.createDataFrame(rows, "g string, i int, x double, y double")
        out = {r.group: r for r in theil_sen_slope(df, "g", "i", "x", "y").collect()}
    finally:
        spark.conf.set(key, prev)
    for g, p in pts.items():
        slopes = sorted(
            ((y2 - y1) / (x2 - x1), i1, i2)
            for (i1, x1, y1) in p
            for (i2, x2, y2) in p
            if i1 < i2 and x1 != x2
        )
        m = len(slopes)
        assert out[g].n_pairs == m
        assert out[g].slope == round(slopes[(m + 1) // 2 - 1][0], 6), g


def test_theil_sen_pairless_group_emits_null_row(spark):
    """A group meeting min_rows but with ZERO x-variance (every pair
    vertical, so no pairwise slope is defined) emits
    (group, n_rows, 0, NULL, NULL) instead of silently dropping —
    silence would read as 'below threshold' (round-14 ADVICE fix)."""
    from maston_spark.relational import theil_sen_slope

    rows = [("flat", i, 5.0, float(i)) for i in range(6)] + [
        ("ok", i, float(i), 2.0 * i + 1.0) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "g string, i int, x double, y double")
    out = {r.group: r for r in theil_sen_slope(df, "g", "i", "x", "y").collect()}
    assert set(out) == {"flat", "ok"}
    r = out["flat"]
    assert (r.n_rows, r.n_pairs, r.slope, r.intercept) == (6, 0, None, None)
    assert out["ok"].slope == 2.0 and out["ok"].n_pairs == 15


def test_acf_and_mase_drop_null_values(spark):
    """NULL values are dropped BEFORE the order window, so the result
    equals running on the pre-filtered series — previously a NULL row
    counted in n while contributing nothing to the sums, silently
    skewing r_k / both MAEs (round-14 ADVICE fix)."""
    from maston_spark.relational import acf, seasonal_naive_mase

    xs = [5, 1, 2] * 6
    clean = [("p", i, xs[i]) for i in range(len(xs))]
    dirty = clean + [("p", 3 * i + 1, None) for i in range(4)]  # interleaved NULLs
    sch = "s string, t int, x long"
    dfc = spark.createDataFrame(clean, sch)
    dfd = spark.createDataFrame(dirty, sch)
    want = sorted(map(tuple, acf(dfc, "s", "t", "x", max_lag=3).collect()))
    got = sorted(map(tuple, acf(dfd, "s", "t", "x", max_lag=3).collect()))
    assert got == want
    assert want[0][2] == len(xs)  # n_obs counts only non-NULL rows
    wantm = [tuple(r) for r in seasonal_naive_mase(dfc, "s", "t", "x", season=3).collect()]
    gotm = [tuple(r) for r in seasonal_naive_mase(dfd, "s", "t", "x", season=3).collect()]
    assert gotm == wantm


def test_cross_correlation_detects_planted_lead(spark):
    """y is x shifted by 2 steps: ccf peaks exactly at lag +2 (x
    leads y) and every lag matches the plain-python estimator."""
    from maston_spark.relational import cross_correlation

    import random

    rnd = random.Random(7)
    xs = [rnd.randrange(0, 50) for _ in range(40)]
    ys = [0, 0] + xs[:-2]  # y_t = x_{t-2}
    rows = [(t, xs[t], ys[t]) for t in range(40)]
    df = spark.createDataFrame(rows, "t int, x long, y long")
    out = {r.lag: r.ccf for r in cross_correlation(df, "t", "x", "y", max_lag=4).collect()}
    n = 40
    mx, my = sum(xs) / n, sum(ys) / n
    dxx = sum((v - mx) ** 2 for v in xs)
    dyy = sum((v - my) ** 2 for v in ys)
    for k in range(-4, 5):
        ts = range(max(0, -k), n - max(0, k))
        num = sum((xs[t] - mx) * (ys[t + k] - my) for t in ts)
        assert out[k] == round(num / (dxx * dyy) ** 0.5, 6), k
    assert max(out, key=lambda k: out[k]) == 2


def test_frequent_triples_apriori_matches_brute_force(spark):
    """Planted baskets: the pruned triple census equals a brute-force
    C(n,3) enumeration with the same support threshold; a triple
    whose sub-pair is infrequent never appears."""
    import itertools

    from maston_spark.relational import frequent_triples

    baskets = {
        1: ["a", "b", "c"], 2: ["a", "b", "c", "d"], 3: ["a", "b", "c"],
        4: ["a", "d"], 5: ["b", "d"], 6: ["c", "d"], 7: ["a", "b"],
        8: ["x", "y", "z"],  # (x,y,z) sub-pairs all support 1 -> pruned
    }
    rows = [(b, i) for b, items in baskets.items() for i in items]
    df = spark.createDataFrame(rows, "bid int, item string")
    got = sorted(
        (r.item_a, r.item_b, r.item_c, r.support)
        for r in frequent_triples(df, "bid", "item", min_support=2).collect()
    )
    support: dict = {}
    for items in baskets.values():
        for t in itertools.combinations(sorted(items), 3):
            support[t] = support.get(t, 0) + 1
    want = sorted((a, b, c, s) for (a, b, c), s in support.items() if s >= 2)
    assert got == want and ("a", "b", "c", 3) in got
    assert all(t[:3] != ("x", "y", "z") for t in got)


def test_interarrival_stats_known_processes(spark):
    """A perfectly regular arrival stream has CV2 0 and burstiness
    -1; a planted bursty stream matches the hand-computed CV2 and
    lands in (0, 1)."""
    from datetime import datetime, timedelta

    from maston_spark.relational import interarrival_stats

    t0 = datetime(2024, 1, 1)
    regular = [("reg", t0 + timedelta(seconds=10 * i), i) for i in range(20)]
    gaps = [1, 1, 1, 1, 100, 1, 1, 1, 1, 100]
    ts, acc = [("burst", t0, 99)], t0
    for k, g in enumerate(gaps):
        acc = acc + timedelta(seconds=g)
        ts.append(("burst", acc, 100 + k))
    df = spark.createDataFrame(
        regular + ts, "g string, ts timestamp, eid int"
    )
    out = {r.group: r for r in interarrival_stats(df, "g", "ts", "eid").collect()}
    assert out["reg"].cv2 == 0.0 and out["reg"].burstiness == -1.0
    assert out["reg"].mean_gap_s == 10.0
    n = len(gaps)
    sd, sdd = sum(gaps), sum(g * g for g in gaps)
    cv2 = n * (n * sdd - sd * sd) / ((n - 1) * sd * sd)
    assert abs(out["burst"].cv2 - round(cv2, 6)) < 1e-6
    assert 0 < out["burst"].burstiness < 1


def test_markov_entropy_rate_deterministic_vs_uniform_chain(spark):
    """A deterministic cycle (a->b->c->a...) has h_rate 0 with
    positive h_zero; an i.i.d.-uniform sequence has h_rate ~ h_zero
    (memory buys ~nothing); values match a plain-python replay."""
    import math

    from maston_spark.relational import markov_entropy_rate

    cyc = [("cyc", i, "abc"[i % 3]) for i in range(60)]
    iid = [("iid", i, "ab"[(i * 7919 + i * i * 104729) % 2]) for i in range(200)]
    det = markov_entropy_rate(
        spark.createDataFrame(cyc, "s string, t int, st string"), "s", "t", "st"
    ).collect()[0]
    assert det.h_rate == 0.0 and det.h_zero > 1.0
    assert det.info_gain == det.h_zero
    uni = markov_entropy_rate(
        spark.createDataFrame(iid, "s string, t int, st string"), "s", "t", "st"
    ).collect()[0]
    # plain replay
    states = [x[2] for x in iid]
    trans: dict = {}
    for a, b in zip(states, states[1:]):
        trans[(a, b)] = trans.get((a, b), 0) + 1
    N = sum(trans.values())
    na: dict = {}
    nb: dict = {}
    for (a, b), n in trans.items():
        na[a] = na.get(a, 0) + n
        nb[b] = nb.get(b, 0) + n
    sc = sum(round(n * math.log(n / na[a]), 6) for (a, b), n in trans.items())
    sb = sum(round(n * math.log(n), 6) for n in nb.values())
    assert uni.h_rate == round(-sc / N, 6)
    assert uni.h_zero == round(math.log(N) - sb / N, 6)
    assert abs(uni.info_gain) < 0.05


def test_precedence_census_hand_case(spark):
    """Existential ordering: an entity with a@1,b@5,a@9 supports BOTH
    a-before-b and b-before-a; equal timestamps never count; counts,
    confidence and lift match hand arithmetic."""
    from datetime import datetime

    from maston_spark.relational import precedence_census

    def ts(sec):
        return datetime(2024, 1, 1, 0, 0, sec)

    rows = [
        (1, "a", ts(1)), (1, "b", ts(5)), (1, "a", ts(9)),
        (2, "a", ts(3)), (2, "b", ts(3)),       # equal stamp: unordered
        (3, "b", ts(1)), (3, "a", ts(2)),
        (4, "a", ts(7)),                         # a only
    ]
    df = spark.createDataFrame(rows, "u long, t string, ts timestamp")
    out = {
        (r.type_a, r.type_b): r
        for r in precedence_census(df, "u", "t", "ts", min_support=1).collect()
    }
    ab, ba = out[("a", "b")], out[("b", "a")]
    assert (ab.n_entities_a, ab.n_entities_b, ab.n_precede) == (4, 3, 1)
    assert (ba.n_entities_a, ba.n_entities_b, ba.n_precede) == (3, 4, 2)
    assert ab.confidence == 0.25 and ab.lift == 0.333333
    assert ba.confidence == 0.666667 and ba.lift == 0.666667


def test_binseg_finds_both_planted_shifts(spark):
    """Rate 10/hr (hours 0-3) -> 40/hr (4-7) -> 100/hr (8-11): the
    two level-1 changepoints recover BOTH true breaks (hour 3 and
    hour 7 boundaries), and every segment statistic matches a plain
    python replay of the n-scaled CUSUM."""
    from datetime import datetime

    from maston_spark.relational import binseg_changepoints

    counts = [10] * 4 + [40] * 4 + [100] * 4
    rows = [
        ("ingest", datetime(2024, 5, 5, h, 30))
        for h, c in enumerate(counts)
        for _ in range(c)
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp")
    out = {r.segment: r for r in binseg_changepoints(df, "g", "ts").collect()}
    assert set(out) == {"all", "left", "right"}

    def best(cs, idx_off=0):
        n, tot = len(cs), sum(cs)
        cum, scores = 0, []
        for i, c in enumerate(cs, start=1):
            cum += c
            scores.append((abs(n * cum - i * tot), -(i + idx_off), n * cum - i * tot, i))
        _, _, sc, i = max(scores)
        return i, sc

    i0, sc0 = best(counts)
    assert out["all"].cusum_scaled == sc0
    assert out["all"].changepoint_ts.hour == i0 - 1
    li, lsc = best(counts[:i0])
    ri, rsc = best(counts[i0:])
    assert out["left"].cusum_scaled == lsc
    assert out["left"].changepoint_ts.hour == li - 1
    assert out["right"].cusum_scaled == rsc
    assert out["right"].changepoint_ts.hour == i0 + ri - 1
    # both true breaks (after hour 3 and hour 7) are found across
    # the two levels
    found = {out[s].changepoint_ts.hour for s in ("all", "left", "right")}
    assert {3, 7} <= found


def test_compaction_plan_skips_null_sizes_and_scopes_persist(spark):
    """NULL file sizes are dropped up front (documented precondition:
    unplannable files are skipped, not crashed on — round-14 ADVICE),
    and the manifest persist routes through the bounded scoped
    registry rather than a bare leak-forever .persist()."""
    from maston_spark.caching import _live
    from maston_spark.relational import compaction_plan

    rows = [(0, 100), (1, None), (2, 300), (3, None), (4, 250)]
    df = spark.createDataFrame(rows, "id long, sz long")
    before = set(_live)
    out = compaction_plan(df, "id", "sz", 400).collect()
    assert sum(r.n_files for r in out) == 3
    assert sum(r.total_size for r in out) == 650
    assert len(set(_live) - before) == 1  # registered, hence bounded


def test_ewma_trend_hand_case_and_short_series(spark):
    """Fast lane reacts, slow lane remembers: a series that jumps
    from 10 to 20 on its last two points reads fast above slow
    (trend 1); a flat series reads fast == slow == its level. A
    series SHORTER than the truncation window normalizes by the
    present weights only, so a 1-point series's EWMA is exactly its
    value."""
    from maston_spark.relational import ewma_trend

    def lanes(alpha, L):
        out, w = [], alpha
        for _ in range(L):
            out.append(round(w * 1e9))
            w *= 1 - alpha
        return tuple(out)

    wf, ws = lanes(0.5, 8), lanes(0.125, 8)
    rows = (
        [("jump", t, 10.0) for t in range(1, 9)]
        + [("jump", 9, 20.0), ("jump", 10, 20.0)]
        + [("flat", t, 7.0) for t in range(1, 11)]
        + [("one", 1, 42.0)]
    )
    df = spark.createDataFrame(rows, "s string, t int, v double")
    out = {r.series: r for r in
           ewma_trend(df, "s", ["t"], "v", wf, ws).collect()}
    assert out["flat"].ewma_fast == 7.0 and out["flat"].ewma_slow == 7.0
    assert out["flat"].trend == 0  # equal is not above
    assert out["jump"].trend == 1
    assert out["jump"].ewma_fast > out["jump"].ewma_slow
    assert out["one"].n_obs == 1
    assert out["one"].ewma_fast == 42.0 and out["one"].ewma_slow == 42.0


def test_join_order_plan_prefers_selective_start_and_prunes_cross(spark):
    """Three-table chain A(1000)-B(10)-C(1000) on shared keys: every
    emitted order is CONNECTED (no cross-join prefixes), costs replay
    the containment estimator exactly, and the cheapest order starts
    from the small middle table (classic Selinger intuition: shrink
    early)."""
    import pytest

    from maston_spark.relational import join_order_plan

    a = spark.range(1000).selectExpr("id AS ka")
    b = spark.range(10).selectExpr("id AS ka", "id AS kc")
    c = spark.range(1000).selectExpr("id % 10 AS kc")
    out = join_order_plan(
        {"a": a, "b": b, "c": c},
        [("a", "b", "ka", "ka"), ("b", "c", "kc", "kc")],
    ).collect()
    orders = [r.join_order for r in out]
    # connected left-deep orders of a chain a-b-c: 4 of 6 perms
    assert sorted(orders) == ["a>b>c", "b>a>c", "b>c>a", "c>b>a"]
    by = {r.join_order: r for r in out}
    # replay: |a⋈b| = 1000*10 // max(1000,10) = 10; then ⋈c:
    # 10*1000 // max(10,10) = 1000 -> cost 1010 for a>b>c
    assert by["a>b>c"].est_cost == 10 + 1000
    assert by["a>b>c"].est_final_rows == 1000
    # b-first orders tie at the same cost here; rank 1 is the
    # lexicographically first of the cheapest
    assert out[0].rank == 1 and out[0].est_cost == min(r.est_cost for r in out)
    with pytest.raises(ValueError, match="at least one join"):
        join_order_plan({"a": a}, [])


def test_join_order_plan_cyclic_graph_prices_every_edge(spark):
    """Triangle a-b-c: when the third table joins the prefix through
    TWO edges, BOTH containment factors apply (r15 ADVICE: the old
    first-edge-found pricing made est_cost depend on the joins-list
    order). Hand replay: a>b>c step 2 joins c via (b,c,y) AND
    (a,c,z) -> 100*100 // max(2,2) // max(5,5) = 1000, and the plan
    is identical under a reversed joins list."""
    from maston_spark.relational import join_order_plan

    a = spark.range(100).selectExpr("id % 10 AS x", "id % 5 AS z")
    b = spark.range(10).selectExpr("id AS x", "id % 2 AS y")
    c = spark.range(100).selectExpr("id % 2 AS y", "id % 5 AS z")
    joins = [("a", "b", "x", "x"), ("b", "c", "y", "y"), ("a", "c", "z", "z")]
    tables = {"a": a, "b": b, "c": c}
    out1 = join_order_plan(tables, joins).collect()
    out2 = join_order_plan(tables, list(reversed(joins))).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]
    by = {r.join_order: r for r in out1}
    # a>b>c: |a ⋈ b| = 100*10 // max(10,10) = 100; c connects via
    # two edges -> 100*100 // 2 // 5 = 1000 (single-edge bug: 5000)
    assert by["a>b>c"].est_cost == 100 + 1000
    assert by["a>b>c"].est_final_rows == 1000
    # triangle: every permutation is connected
    assert len(out1) == 6


def test_dbscan_noise_row_balances_point_count(spark):
    """Hand case: three collinear cores (mutual eps-neighbors), one
    border hanging off the end, one far-away noise point and one
    NULL-coordinate point. The always-emitted cluster=-1 row carries
    both unclustered points, so sum(n_points) == |points| (r15
    ADVICE: noise used to be reported only by omission)."""
    from maston_spark.relational import dbscan_clusters

    pts = spark.createDataFrame(
        [
            (1, 0, 0),
            (2, 1, 0),
            (3, 2, 0),
            (4, 3, 1),  # border: only neighbor is core 3
            (5, 100, 100),  # noise: no neighbors
            (6, 50, None),  # NULL y -> never enters the grid join
        ],
        "id long, x long, y long",
    )
    out = {r.cluster: r for r in
           dbscan_clusters(pts, "id", "x", "y", eps=2, min_pts=3).collect()}
    assert set(out) == {1, -1}
    assert (out[1].n_core, out[1].n_border, out[1].n_points) == (3, 1, 4)
    assert (out[-1].n_core, out[-1].n_border, out[-1].n_points) == (0, 0, 2)
    assert sum(r.n_points for r in out.values()) == 6


def test_dbscan_all_clustered_emits_zero_noise_row(spark):
    """No noise: the -1 row is still emitted (deterministic schema,
    n_points = 0) rather than appearing only when noise exists."""
    from maston_spark.relational import dbscan_clusters

    pts = spark.createDataFrame(
        [(1, 0, 0), (2, 1, 0), (3, 0, 1)], "id long, x long, y long"
    )
    out = {r.cluster: r for r in
           dbscan_clusters(pts, "id", "x", "y", eps=2, min_pts=3).collect()}
    assert out[-1].n_points == 0
    assert out[1].n_points == 3


def test_shapley_attribution_two_channel_hand_case(spark):
    """Disjoint conversions keep their own credit; the overlap
    splits evenly (2-channel Shapley). Sets: {A} 1 conv, {B} 1 conv,
    {A,B} 2 conv → v(A)=1, v(B)=1, v(AB)=4; φ_A = ½·1 + ½·(4−1) = 2
    = φ_B, and Σφ = v(U) = total conversions (efficiency)."""
    from maston_spark.relational import shapley_attribution

    rows = [
        (1, "A", 1),
        (2, "B", 1),
        (3, "A", 1), (3, "B", 1),
        (4, "A", 1), (4, "B", 1),
        (5, "A", 0),  # non-converting A-only user: no credit
    ]
    df = spark.createDataFrame(rows, "u long, c string, y int")
    out = {r.channel: r for r in
           shapley_attribution(df, "u", "c", "y").collect()}
    assert out["A"].shapley == 2.0 and out["B"].shapley == 2.0
    assert out["A"].n_users == 4  # users 1, 3, 4, 5 touched A
    assert out["A"].n_conversions == 3
    assert out["A"].n_sets == 2  # {A}, {A,B}


def test_shapley_attribution_dummy_channel_gets_zero(spark):
    """A channel only ever touched by non-converting users is a
    DUMMY: v(T∪{c}) = v(T) for every T, so its Shapley credit is
    exactly 0 (the axiom last-touch violates when the dummy happens
    to arrive last)."""
    from maston_spark.relational import shapley_attribution

    rows = [(1, "A", 1), (2, "C", 0), (3, "C", 0)]
    df = spark.createDataFrame(rows, "u long, c string, y int")
    out = {r.channel: r.shapley for r in
           shapley_attribution(df, "u", "c", "y").collect()}
    assert out == {"A": 1.0, "C": 0.0}


def test_shapley_attribution_guards_wide_universe(spark):
    """> max_channels distinct channels must raise, not melt the
    driver with a 2^u DP."""
    import pytest

    from maston_spark.relational import shapley_attribution

    rows = [(i, f"c{i}", 1) for i in range(9)]
    df = spark.createDataFrame(rows, "u long, c string, y int")
    with pytest.raises(ValueError, match="channels"):
        shapley_attribution(df, "u", "c", "y", max_channels=8)


def test_fs_linkage_weights_hand_case(spark):
    """Four rows, three fields: a constant field (u = 1, agreement
    is NO evidence → w_disagree NULL), an all-distinct field (u = 0,
    agreement is PERFECT evidence → w_agree NULL), and a 2+2 split
    where u = (2·1 + 2·1)/(4·3) = 1/3 exactly — w_agree =
    log2(0.9/(1/3)) = log2(2.7), the textbook FS replay. NULLs in a
    field drop from that field's census only."""
    import math

    from maston_spark.relational import fs_linkage_weights

    rows = [
        ("x", "a", "p1"),
        ("x", "a", "p2"),
        ("x", "b", "p3"),
        ("x", "b", None),
    ]
    df = spark.createDataFrame(rows, "const string, half string, uniq string")
    out = {r.field: r for r in fs_linkage_weights(
        df, ["const", "half", "uniq"],
        {"const": 0.9, "half": 0.9, "uniq": 0.9},
    ).collect()}
    c = out["const"]
    assert (c.n_rows, c.n_distinct, c.u_prob) == (4, 1, 1.0)
    assert c.w_agree == round(math.log2(0.9 / 1.0), 6)
    assert c.w_disagree is None
    h = out["half"]
    assert (h.n_rows, h.n_distinct) == (4, 2)
    assert h.u_prob == 0.333333  # micro half-away lane of 1/3
    assert h.w_agree == round(math.log2(0.9 / 0.333333), 6)
    assert h.w_disagree == round(math.log2(0.1 / (1 - 0.333333)), 6)
    u = out["uniq"]
    assert (u.n_rows, u.n_distinct, u.u_prob) == (3, 3, 0.0)
    assert u.w_agree is None
    assert u.w_disagree == round(math.log2(0.1), 6)


def test_seasonal_decompose_hand_case(spark):
    """Pure period-3 signal y = [10, 20, 30, 10, 20, 30, ...]: the
    centered 3-MA trend is exactly 20 everywhere inside the edges,
    the seasonal profile re-centers to (-10, 0, +10), residuals are
    exactly 0, and y = trend + seasonal + residual holds row by
    row. Edge rows (no full window) carry NULL trend/residual but
    still get their position's seasonal."""
    from maston_spark.relational import seasonal_decompose

    rows = [(t, [10, 20, 30][t % 3]) for t in range(9)]
    df = spark.createDataFrame(rows, "t long, y long")
    out = seasonal_decompose(df, "t", "y", period=3).collect()
    assert len(out) == 9
    inner = [r for r in out if r.trend is not None]
    assert [r.t for r in inner] == list(range(1, 8))
    assert all(r.trend == 20.0 for r in inner)
    by_pos = {r.pos: r.seasonal for r in out}
    assert by_pos == {0: -10.0, 1: 0.0, 2: 10.0}
    assert all(r.residual == 0.0 for r in inner)
    for r in inner:
        assert r.y == r.trend + r.seasonal + r.residual
    edge = [r for r in out if r.trend is None]
    assert {r.t for r in edge} == {0, 8}
    assert all(r.residual is None for r in edge)


def test_seasonal_decompose_gap_voids_trend(spark):
    """A missing bucket voids the trend for every row whose RANGE
    window spans the gap — rows-based frames would silently treat
    non-adjacent days as neighbors."""
    from maston_spark.relational import seasonal_decompose

    rows = [(t, 10) for t in [0, 1, 2, 3, 5, 6, 7, 8]]  # 4 missing
    df = spark.createDataFrame(rows, "t long, y long")
    out = {r.t: r for r in
           seasonal_decompose(df, "t", "y", period=3).collect()}
    assert out[1].trend == 10.0 and out[2].trend == 10.0
    # windows centered at 3, 5 span the missing bucket 4
    assert out[3].trend is None and out[5].trend is None
    assert out[6].trend == 10.0
