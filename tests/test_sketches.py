"""Golden tests for the mergeable-sketch module (KMV, count-min).

The oracle harness grades the estimators cross-engine; these tests
pin the sketch PROPERTIES that the oracle can't see: partition-count
invariance (merge correctness), the one-sided CMS error bound, and
the exact-branch behavior for small sets.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from maston_spark.sketches import (
    cms_estimate,
    kmv_distinct_by,
    kmv_set_ops,
    kmv_sketch,
)


@pytest.fixture(scope="module")
def items(spark):
    # 400 distinct values, duplicated with different multiplicities,
    # across two groups.
    rows = [(("g1" if v % 2 else "g0"), f"v{v}") for v in range(400) for _ in range(1 + v % 3)]
    return spark.createDataFrame(rows, "g string, v string")


def test_kmv_partition_invariance(spark, items):
    """The sketch is a pure function of the SET — repartitioning the
    input must not change a single survivor row (this is the merge
    property that makes the per-partition partial lossless)."""
    a = kmv_sketch(items.repartition(1), "g", "v", k=16).orderBy("g", "rn")
    b = kmv_sketch(items.repartition(13), "g", "v", k=16).orderBy("g", "rn")
    assert [r.asDict() for r in a.collect()] == [r.asDict() for r in b.collect()]


def test_kmv_exact_branch_small_set(spark):
    """Fewer distinct values than k → the sketch IS the set and the
    estimate is exactly the distinct count."""
    df = spark.createDataFrame(
        [("g", f"v{i % 7}") for i in range(50)], "g string, v string"
    )
    [row] = kmv_distinct_by(df, "g", "v", k=32).collect()
    assert row.n_distinct_est == 7.0


def test_kmv_estimate_within_tolerance(spark, items):
    """k=64 on 200-element sets: the (k-1)/r_k estimator should land
    within the ~3/sqrt(k) relative-error band (generous 3x margin —
    the value itself is pinned by the oracle harness, this guards
    against estimator-formula regressions)."""
    out = {r.g: r.n_distinct_est for r in kmv_distinct_by(items, "g", "v", 64).collect()}
    for g in ("g0", "g1"):
        assert abs(out[g] - 200) / 200 < 3 * 3 / 8, out


def test_kmv_set_ops_identical_sets(spark):
    """Two identical sets: jaccard estimate must be exactly 1 and the
    union estimate equals each set's own estimate."""
    rows = [(s, f"v{v}") for s in ("a", "b") for v in range(30)]
    df = spark.createDataFrame(rows, "s string, v string")
    [r] = kmv_set_ops(df, "s", "v", k=64).collect()
    assert (r.set_a, r.set_b) == ("a", "b")
    assert r.est_jaccard == 1.0
    assert r.est_union == 30.0
    assert r.est_intersection == 30.0


def test_kmv_set_ops_disjoint_sets(spark):
    """Disjoint sets: jaccard estimate exactly 0; union = sum."""
    rows = [("a", f"x{v}") for v in range(20)] + [("b", f"y{v}") for v in range(25)]
    df = spark.createDataFrame(rows, "s string, v string")
    [r] = kmv_set_ops(df, "s", "v", k=64).collect()
    assert r.est_jaccard == 0.0
    assert r.est_intersection == 0.0
    assert r.est_union == 45.0


def test_cms_one_sided_error(spark):
    """CMS never underestimates: est ≥ exact for every item, and
    items that fit without collision are exact."""
    rows = [(f"u{i % 10}",) for i in range(1000)]
    df = spark.createDataFrame(rows, "item string")
    est = {r.item: r.est_count for r in cms_estimate(df, df, "item", 4, 64).collect()}
    exact = {
        r.item: r.cnt
        for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert set(est) == set(exact)
    for it, e in est.items():
        assert e >= exact[it], (it, e, exact[it])


def test_cms_sketch_bounded_size(spark):
    """The sketch never exceeds depth × width rows no matter the
    input size — the bounded-memory contract."""
    from maston_spark.sketches import cms_sketch

    rows = [(f"u{i}",) for i in range(5000)]
    df = spark.createDataFrame(rows, "item string")
    assert cms_sketch(df, "item", 4, 32).count() <= 4 * 32


def test_mg_heavy_hitters_golden(spark):
    from maston_spark.sketches import mg_heavy_hitters

    # 50x 'hot' + 40x 'warm' + 200 unique cold items; k=6 ->
    # threshold 290/6 = 48.3: only 'hot' qualifies ('warm' at 40
    # falls below — the exact-confirm pass must drop it). Domain
    # (202) far exceeds the counter budget, so the per-partition
    # folds MUST evict; 4 partitions exercise the candidate union.
    rows = [("hot",)] * 50 + [("warm",)] * 40 + [(f"c{i}",) for i in range(200)]
    df = spark.createDataFrame(rows, "item string").repartition(4)
    got = {r.item: r.n_occurrences for r in mg_heavy_hitters(df, "item", k=6).collect()}
    assert got == {"hot": 50}

    # k=8: threshold 36.25 admits 'warm' too
    got = {r.item: r.n_occurrences for r in mg_heavy_hitters(df, "item", k=8).collect()}
    assert got == {"hot": 50, "warm": 40}

    # k large enough that everything above n/k survives: exact recall
    got = {r.item: r.n_occurrences for r in mg_heavy_hitters(df, "item", k=64).collect()}
    assert got == {"hot": 50, "warm": 40}

    # empty input -> empty output, no mapInPandas crash
    empty = spark.createDataFrame([], "item string")
    assert mg_heavy_hitters(empty, "item", k=8).count() == 0


def test_ams_f2_golden(spark):
    from maston_spark.sketches import ams_f2

    # 3x'a' + 2x'b' + 1x'c': F2 = 9 + 4 + 1 = 14
    rows = [("a",)] * 3 + [("b",)] * 2 + [("c",)]
    df = spark.createDataFrame(rows, "k string").repartition(3)
    r = ams_f2(df, "k", n_lanes=16).collect()[0]
    assert r.n_rows == 6
    assert r.f2_exact == 14
    # the estimator is unbiased but noisy at 16 lanes; the invariants
    # that must hold exactly: est >= (its own) lane-mean bound of the
    # squared total ... assert determinism + sanity instead
    assert r.f2_est >= 0.0
    assert r.rel_err == abs(r.f2_est - 14) / 14
    # deterministic: same input -> bit-identical estimate
    r2 = ams_f2(df, "k", n_lanes=16).collect()[0]
    assert r2.f2_est == r.f2_est
    # all-NULL column: a NULL value signs -1 in every lane (the oracle's
    # CASE ... ELSE -1), so each lane total is -2 and the estimate is
    # exactly (-2)^2 = 4 = F2 of the one NULL group of size 2
    nulls = spark.createDataFrame([(None,), (None,)], "k string")
    r = ams_f2(nulls, "k", n_lanes=16).collect()[0]
    assert (r.n_rows, r.f2_exact, r.f2_est, r.rel_err) == (2, 4, 4.0, 0.0)


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=10, deadline=None)
@given(
    items=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=2, max_value=6),
)
def test_mg_heavy_hitters_matches_definition(spark, items, k):
    """For any stream and k: the output is EXACTLY
    {item: freq > n/k} with exact counts — the sketch is an
    implementation detail the result must never show."""
    from collections import Counter

    from maston_spark.sketches import mg_heavy_hitters

    counts = Counter(items)
    n = len(items)
    expect = {i: c for i, c in counts.items() if c * k > n}
    df = spark.createDataFrame([(i,) for i in items], "item string").repartition(3)
    got = {r.item: r.n_occurrences for r in mg_heavy_hitters(df, "item", k).collect()}
    assert got == expect, (items, k, got, expect)


# ----------------------------------------------- quantile sketches


@pytest.fixture(scope="module")
def values(spark):
    # Deterministic skewed doubles across two groups, unique row keys.
    rows = [
        (("a" if i % 3 else "b"), f"k{i}", float((i * 37) % 1000) ** 1.5)
        for i in range(3000)
    ]
    return spark.createDataFrame(rows, "g string, key string, v double")


def _sample_sketch(df, k=64):
    from maston_spark.sketches import quantile_sample_sketch

    return quantile_sample_sketch(df, "g", F.col("key"), "v", k)


def test_quantile_sample_merge_equality(spark, values):
    """Sketch of union == union of sketches, as SET identity (the
    bottom-k minima of a union are the bottom-k of the union of each
    side's bottom-k) — the exact-merge property the KMV family
    shares and KLL compaction cannot offer."""
    from maston_spark.sketches import quantile_sample_merge

    left = values.filter(F.length("key") <= 3)  # k0..k99 etc
    right = values.subtract(left)
    whole = _sample_sketch(values)
    merged = quantile_sample_merge(
        _sample_sketch(left), _sample_sketch(right), 64
    ).select("g", "h", "value")
    a = {tuple(r) for r in whole.collect()}
    b = {tuple(r) for r in merged.collect()}
    assert a == b


def test_quantile_sample_partition_invariance(spark, values):
    sk1 = _sample_sketch(values.repartition(1)).collect()
    sk8 = _sample_sketch(values.repartition(8)).collect()
    assert sorted(map(tuple, sk1)) == sorted(map(tuple, sk8))


def test_quantile_sample_estimate_rank_error(spark, values):
    """Sample quantiles off a k=256 sketch stay within ~2/sqrt(k)
    rank error of the exact order statistics."""
    from maston_spark.sketches import (
        quantile_sample_estimate,
        quantile_sample_sketch,
    )

    qs = [0.1, 0.5, 0.9]
    sk = quantile_sample_sketch(values, "g", F.col("key"), "v", 256)
    est = {
        (r["g"], r["qq"]): r["est_q"]
        for r in quantile_sample_estimate(sk, "g", qs).collect()
    }
    data = {}
    for r in values.collect():
        data.setdefault(r["g"], []).append(r["v"])
    tol = 2.0 / (256 ** 0.5)
    for (g, qq), v in est.items():
        xs = sorted(data[g])
        rank = sum(1 for x in xs if x <= v) / len(xs)
        assert abs(rank - qq) <= tol, (g, qq, rank)


def test_kll_weight_conservation(spark, values):
    """The compactor's invariant: total sketch weight equals the
    exact row count, per group (odd buffers leave an element behind
    instead of destroying weight)."""
    from maston_spark.sketches import kll_sketch

    sk = kll_sketch(values, "g", "v", k=64)
    w = (
        sk.groupBy("g")
        .agg(F.sum(F.pow(F.lit(2.0), F.col("level"))).alias("w"))
        .collect()
    )
    exact = {r["g"]: r["n"] for r in values.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in w:
        assert int(r["w"]) == exact[r["g"]], r


def test_kll_rank_error(spark, values):
    from maston_spark.sketches import kll_quantiles, kll_sketch

    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    sk = kll_sketch(values, "g", "v", k=128)
    est = {
        (r["g"], r["qq"]): r["est_q"]
        for r in kll_quantiles(sk, "g", qs).collect()
    }
    data = {}
    for r in values.collect():
        data.setdefault(r["g"], []).append(r["v"])
    for (g, qq), v in est.items():
        xs = sorted(data[g])
        rank = sum(1 for x in xs if x <= v) / len(xs)
        assert abs(rank - qq) <= 0.05, (g, qq, rank)


def test_kll_bounded_size(spark, values):
    """Sketch rows per group stay O(k log n), far below n."""
    from maston_spark.sketches import kll_sketch

    sizes = {
        r["g"]: r["c"]
        for r in kll_sketch(values, "g", "v", k=64)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    for g, c in sizes.items():
        assert c <= 64 * 12, (g, c)


def test_kll_single_machine_matches_definition():
    """The compactor core on one stream: exact weight conservation,
    deterministic rerun equality, and rank error within bound."""
    from maston_spark.sketches import _KLL

    xs = [float((i * 17) % 500) for i in range(5000)]
    a, b = _KLL(96, "t"), _KLL(96, "t")
    a.extend(xs)
    b.extend(xs)
    assert sorted(a.items()) == sorted(b.items())
    total_w = sum(2 ** l for l, _ in a.items())
    assert total_w == len(xs)
    # rank error at the median
    items = sorted(a.items(), key=lambda t: t[1])
    cum, est = 0, None
    for l, v in items:
        cum += 2 ** l
        if cum >= 0.5 * len(xs):
            est = v
            break
    rank = sum(1 for x in xs if x <= est) / len(xs)
    assert abs(rank - 0.5) <= 0.04


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=4, max_value=32),
    parts=st.integers(min_value=1, max_value=5),
)
def test_quantile_sample_is_canonical_bottom_k(spark, vals, k, parts):
    """For ANY multiset, k, and partitioning: the sketch is exactly
    the k smallest (h(key), value) rows — a pure function of the row
    multiset, never of layout."""
    from maston_spark.sketches import h60, quantile_sample_sketch

    rows = [("g", f"r{i}", v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, key string, v double").repartition(
        parts
    )
    got = sorted(
        (r.h, r.value)
        for r in quantile_sample_sketch(df, "g", F.col("key"), "v", k).collect()
    )
    hs = {
        r.key: r.h
        for r in df.select("key", h60(F.col("key")).alias("h")).collect()
    }
    expect = sorted((hs[f"r{i}"], v) for i, v in enumerate(vals))[:k]
    assert got == expect, (k, parts, got, expect)


@settings(max_examples=8, deadline=None)
@given(
    vals=st.lists(
        st.floats(min_value=0, max_value=1e4, allow_nan=False),
        min_size=1,
        max_size=400,
    ),
    k=st.integers(min_value=16, max_value=64),
)
def test_kll_core_invariants_any_stream(vals, k):
    """For ANY stream and k: total weight is conserved exactly, the
    sketch holds values FROM the stream, and size stays within the
    compactor budget."""
    from maston_spark.sketches import _KLL

    sk = _KLL(k, "p")
    sk.extend(vals)
    items = list(sk.items())
    assert sum(2 ** l for l, _ in items) == len(vals)
    vset = set(vals)
    assert all(v in vset for _, v in items)
    assert len(items) <= max(len(vals), k * 12)


# ------------------------- null handling in the fused profilers


def test_join_key_profile_null_keys_dropped_not_crash(spark):
    """A null join-key value must neither crash the partial kernel
    (md5(NULL) → NaN → float64 lanes → to_numpy(int64) ValueError)
    nor count toward n_rows: the profile follows the COUNT(col)
    convention and is bit-identical to profiling the pre-filtered
    frame."""
    from maston_spark.sketches import join_key_profile

    rows = [(f"k{i % 9}",) for i in range(40)] + [(None,)] * 7
    df = spark.createDataFrame(rows, "k string")
    got = {
        r.key_name: r.asDict()
        for r in join_key_profile([(df, "k", "t.k")], k=16).collect()
    }
    clean = {
        r.key_name: r.asDict()
        for r in join_key_profile(
            [(df.filter(F.col("k").isNotNull()), "k", "t.k")], k=16
        ).collect()
    }
    assert got == clean
    assert got["t.k"]["n_rows"] == 40
    assert got["t.k"]["n_distinct_est"] == 9.0  # < k → exact branch


def test_table_sketch_profile_nullable_column_bit_identical(spark):
    """A nullable column's profile must be BIT-IDENTICAL to profiling
    the pre-filtered frame — the regression this pins: a null in any
    Arrow batch used to deliver the int64 hash lanes as float64, and
    values > 2^53 rounded BEFORE the kernel's dropna, silently
    corrupting the KMV minima (no crash, wrong answer)."""
    from maston_spark.sketches import table_sketch_profile

    rows = [(f"v{i}", i % 5) for i in range(200)] + [(None, 99)] * 11
    df = spark.createDataFrame(rows, "s string, n int").repartition(7)
    got = [
        r.asDict()
        for r in table_sketch_profile(df, ["s", "n"], k=64)
        .orderBy("column")
        .collect()
    ]
    clean_s = table_sketch_profile(
        df.filter(F.col("s").isNotNull()), ["s"], k=64
    ).collect()[0]
    assert got[1]["n_rows"] == 200
    assert got[1]["n_distinct_est"] == clean_s.n_distinct_est
    assert got[1]["f2_est"] == clean_s.f2_est
    # the int column sees every row (nulls only in s)
    assert got[0]["n_rows"] == 211 and got[0]["n_distinct_est"] == 6.0


def test_table_sketch_profile_float_canonicalization(spark):
    """Float columns hash through the operator-owned micro-unit fixed
    point: the profile of a double column equals the profile of the
    explicitly pre-canonicalized long column (same distinct structure,
    same hashes → identical rows)."""
    from maston_spark.sketches import table_sketch_profile

    rows = [(float(i % 13) + 0.25,) for i in range(100)]
    df = spark.createDataFrame(rows, "x double")
    prof_f = table_sketch_profile(df, ["x"], k=32).collect()[0]
    canon = df.select(
        F.round(F.col("x") * 1e6).cast("long").alias("x")
    )
    prof_l = table_sketch_profile(canon, ["x"], k=32).collect()[0]
    assert prof_f.n_rows == prof_l.n_rows == 100
    assert prof_f.n_distinct_est == prof_l.n_distinct_est == 13.0
    assert prof_f.f2_est == prof_l.f2_est


def test_quantile_sample_estimate_rejects_out_of_range_q(spark, values):
    """q outside (0, 1] would silently drop its output row (the rank
    pick joins back into the sketch); it must raise instead."""
    from maston_spark.sketches import quantile_sample_estimate

    sk = _sample_sketch(values)
    with pytest.raises(ValueError, match="quantiles"):
        quantile_sample_estimate(sk, "g", [0.0, 0.5])
    with pytest.raises(ValueError, match="quantiles"):
        quantile_sample_estimate(sk, "g", [1.5])


# --------------------------------------------------- HyperLogLog


def test_hll_registers_partition_invariant_and_mergeable(spark):
    """HLL registers are a pure function of the SET (repartitioning
    changes nothing) and merge by per-bucket MAX: registers of a
    union == max-merge of the halves' registers — the property that
    makes HLL state foldable across partitions and streams."""
    from maston_spark.sketches import hll_registers

    rows = [("g", f"v{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v string")
    a = {
        (r.bucket): r.mj
        for r in hll_registers(df.repartition(1), "g", "v").collect()
    }
    b = {
        (r.bucket): r.mj
        for r in hll_registers(df.repartition(17), "g", "v").collect()
    }
    assert a == b
    half1 = df.filter(F.col("v") < "v5")
    half2 = df.filter(F.col("v") >= "v5")
    r1 = {r.bucket: r.mj for r in hll_registers(half1, "g", "v").collect()}
    r2 = {r.bucket: r.mj for r in hll_registers(half2, "g", "v").collect()}
    merged = {
        k: max(r1.get(k, 0), r2.get(k, 0)) for k in set(r1) | set(r2)
    }
    assert merged == a


def test_hll_estimate_within_tolerance(spark):
    """p=8 (256 registers, ~6.5% standard error): the estimate of a
    5000-element set lands within a generous 4-sigma band, and
    duplicates don't move it (cardinality, not count)."""
    from maston_spark.sketches import hll_estimate, hll_registers

    rows = [("g", f"item{i % 5000}") for i in range(12000)]
    df = spark.createDataFrame(rows, "g string, v string")
    [r] = hll_estimate(hll_registers(df, "g", "v"), "g").collect()
    assert abs(r.n_distinct_est - 5000) / 5000 < 4 * 1.04 / 16, r


def test_ams_join_size_reasonable_and_exact_lanes(spark):
    """The AMS inner-product join-size estimate lands within the
    O(sqrt(F2a*F2b/L)) error band of the true join size on a
    fan-out join, and lane totals are partition-invariant."""
    import math

    from maston_spark.sketches import ams_join_size

    # A: keys 0..99 once; B: key k repeated (k % 5 + 1) times
    a = spark.createDataFrame([(k,) for k in range(100)], "ka long")
    b = spark.createDataFrame(
        [(k,) for k in range(100) for _ in range(k % 5 + 1)], "kb long"
    )
    true = sum(k % 5 + 1 for k in range(100))
    [r1] = ams_join_size(a.repartition(1), "ka", b.repartition(1), "kb").collect()
    [r7] = ams_join_size(a.repartition(7), "ka", b.repartition(3), "kb").collect()
    assert r1.est_join_size == r7.est_join_size  # exact lane sums
    f2a, f2b = 100, sum((k % 5 + 1) ** 2 for k in range(100))
    sigma = math.sqrt(f2a * f2b / 16)
    assert abs(r1.est_join_size - true) < 4 * sigma, (r1, true, sigma)


def test_hll_rolling_merge_equals_one_shot_union(spark):
    """Mergeability identity: a rolling window wide enough to cover
    ALL days produces, on its last day, exactly the one-shot HLL raw
    estimate of the whole value set — register MAX over days is the
    same state as sketching the union directly. Narrow windows only
    see their trailing days (a value absent from the window stops
    influencing the estimate)."""
    from maston_spark.sketches import hll_rolling_distinct

    rows = []
    for d in range(1, 11):
        for v in range(d * 100, d * 100 + 30):  # 30 fresh users per day
            rows.append((f"2024-03-{d:02d} 12:00:00", v))
    df = spark.createDataFrame(rows, "ts string, uid long").select(
        F.col("ts").cast("timestamp").alias("ts"), "uid"
    )
    wide = {
        str(r.day): r.n_distinct_est_raw
        for r in hll_rolling_distinct(df, "ts", "uid", window_days=30, p=8).collect()
    }
    # one-shot: every row mapped to a single day, window 1
    one = df.select(F.lit("2024-03-01 00:00:00").cast("timestamp").alias("ts"), "uid")
    [r1] = hll_rolling_distinct(one, "ts", "uid", window_days=1, p=8).collect()
    assert wide["2024-03-10"] == r1.n_distinct_est_raw
    # narrow window: day 10 with window 3 covers days 8-10 (90 users),
    # strictly less state than the full union
    narrow = {
        str(r.day): r
        for r in hll_rolling_distinct(df, "ts", "uid", window_days=3, p=8).collect()
    }
    assert narrow["2024-03-10"].v_zero_registers > 256 - 90
    assert narrow["2024-03-10"].n_distinct_est_raw < wide["2024-03-10"]


def test_benford_audit_detects_uniform_vs_multiplicative(spark):
    """A geometric (scale-spanning) series follows Benford closely;
    a uniform [100, 999] series leads with every digit ~equally and
    deviates. Also pins the digit cascade itself (no float-to-string
    anywhere)."""
    from maston_spark.profiling import benford_audit

    geo = [("g", 1.5**k) for k in range(1, 71)]  # stays under 10^13
    df = spark.createDataFrame(geo, "g string, v double")
    out = {r.digit: r for r in benford_audit(df, "v").collect()}
    assert set(out) == set(range(1, 10))
    assert sum(r.n_obs for r in out.values()) == 70
    assert out[1].obs_freq > out[9].obs_freq  # Benford shape
    assert out[1].abs_dev < 0.05  # close to log10(2) = 0.30103
    uni = spark.createDataFrame(
        [("u", float(v)) for v in range(100, 1000)], "g string, v double"
    )
    u = {r.digit: r for r in benford_audit(uni, "v").collect()}
    # uniform: every digit ~1/9 = 0.111 -> digit 1 under-represented
    assert abs(u[1].obs_freq - 1 / 9) < 0.01
    assert u[1].abs_dev > 0.15


def test_hll_cube_levels_derive_from_one_register_build(spark):
    """Cube consistency: each rolled-up level's registers are the MAX
    of its children's, so the grand-total estimate equals a direct
    one-level HLL of the whole value set, and a single-valued axis
    level equals its only child cell."""
    from maston_spark.sketches import hll_raw_estimate, hll_registers, hll_rollup_cube

    rows = [("click", f"d{i % 3}", i % 500) for i in range(3000)]
    df = spark.createDataFrame(rows, "et string, day string, uid long")
    cube = {
        (r.level, r.et, r.day): r.n_distinct_est_raw
        for r in hll_rollup_cube(df, "et", "day", "uid", p=8).collect()
    }
    # direct one-shot over everything == the cube's grand total
    direct = hll_raw_estimate(
        hll_registers(
            df.select(F.lit("k").alias("g"), F.col("uid")), "g", "uid", p=8
        ),
        ["g"],
        p=8,
    ).collect()[0].n_distinct_est_raw
    assert cube[("all", "ALL", "ALL")] == direct
    # single event_type: the 'a' level equals the grand total too
    assert cube[("a", "click", "ALL")] == direct
    # cells exist for all 3 days and estimate fewer than the union
    for d in ("d0", "d1", "d2"):
        assert ("a,b", "click", d) in cube
