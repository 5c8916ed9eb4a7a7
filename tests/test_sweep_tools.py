"""Guards on the two-scale sweep's flagging logic (tools/sweep_scale.py):
the ratio gate catches superlinear blow-ups, and the ABSOLUTE gate
catches the case the ratio gate is blind to — a slow-side artifact
that produces a 'good' ratio (round 11's q118: 67.5 s single-shot at
sf0.1 vs a ~23 s headline median gave a 0.35x ratio and was never
re-measured)."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.sweep_scale import abs_flags, ratio_flags  # noqa: E402


def test_ratio_flags_catch_superlinear_only():
    ok = {
        "fine_linear": {"a": 2.0, "b": 4.0},
        "fine_small": {"a": 0.3, "b": 2.0},  # sub-threshold absolute cost
        "blowup": {"a": 2.0, "b": 30.0},
    }
    assert set(ratio_flags(ok)) == {"blowup"}


def test_abs_flags_catch_slow_side_artifact_with_good_ratio():
    """The q118 shape: sf0.1 single-shot 67.5 s (vs 23 s headline
    median) but 10x side 23.5 s -> ratio 0.35x, invisible to the
    ratio gate; the absolute gate must flag it for min-of-3
    re-measurement."""
    ok = {
        "q118_like": {"a": 67.5, "b": 23.5},
        "steady": {"a": 22.0, "b": 30.0},
        "not_in_bench": {"a": 99.0, "b": 99.0},
    }
    medians = {"q118_like": 23.0, "steady": 22.5}
    flags = abs_flags(ok, medians, factor=2.5)
    assert set(flags) == {"q118_like"}
    assert flags["q118_like"]["single_shot"] == 67.5
    assert ratio_flags({"q118_like": ok["q118_like"]}) == {}  # ratio-blind


def test_abs_flags_inverse_ratio_without_median():
    """q118 had NO headline median; the inverse-ratio gate (10x more
    data running 2.5x faster = the small side is an artifact) must
    still flag it."""
    ok = {"q118_pagerank": {"a": 67.5, "b": 23.5}, "ok": {"a": 3.0, "b": 6.0}}
    flags = abs_flags(ok, {})
    assert set(flags) == {"q118_pagerank"}


def test_abs_flags_ignore_fast_queries_and_missing_medians():
    ok = {"quick": {"a": 1.2, "b": 1.5}}
    # 3x over a 0.3 s median but under the 5 s absolute floor: noise
    assert abs_flags(ok, {"quick": 0.3}) == {}
    assert abs_flags(ok, {}) == {}


def test_ratio_flags_tighten_to_2_5x_past_8s_absolute():
    """Round 12 shipped q164 (5.0 -> 16.4 s, 3.3x) and q166
    (5.8 -> 13.5 s, 2.3x) unadjudicated because the 5x gate ignored
    multi-second 2-3x movers; past 8 s absolute on the 10x side the
    gate is 2.5x."""
    ok = {
        "q164_like": {"a": 5.0, "b": 16.4},   # 3.3x, b > 8 -> flag
        "q166_like": {"a": 5.8, "b": 13.5},   # 2.3x, b > 8 -> quiet (under 2.5x)
        "linear_big": {"a": 10.0, "b": 20.0}, # 2.0x -> quiet
        "small_3x": {"a": 2.0, "b": 6.0},     # 3x but b < 8 -> quiet
        "blowup": {"a": 2.0, "b": 30.0},      # classic 5x gate
    }
    assert set(ratio_flags(ok)) == {"q164_like", "blowup"}


def test_abs_flags_catch_b_side_artifact_via_last_adjudicated_ratio():
    """The mirror of q118: a 10x-side single-shot artifact inflates
    this sweep's ratio; with the query's last-adjudicated ratio known
    (prior sweep min-of-3), the b-side must flag when it exceeds
    factor x median x ratio."""
    ok = {
        "artifact_b": {"a": 6.0, "b": 80.0},   # last ratio 2.0, med 6 -> cap 36
        "steady_b": {"a": 6.0, "b": 14.0},     # within cap
        "no_history": {"a": 6.0, "b": 80.0},   # no prior ratio -> quiet here
    }
    medians = {"artifact_b": 6.0, "steady_b": 6.0, "no_history": 6.0}
    prev = {"artifact_b": 2.0, "steady_b": 2.0}
    flags = abs_flags(ok, medians, factor=3.0, prev_ratios=prev)
    assert flags.get("artifact_b", {}).get("side") == "b"
    assert flags["artifact_b"]["last_adjudicated_ratio"] == 2.0
    assert "no_history" not in flags
    # steady_b: 14 < 3 * 6 * 2 = 36 -> quiet
    assert "steady_b" not in flags


def test_load_prev_ratios_prefers_min_of_3(tmp_path):
    import json as _json

    from tools.sweep_scale import load_prev_ratios

    p = tmp_path / "_sweep.json"
    p.write_text(_json.dumps({
        "q_adj": {"a": 5.0, "b": 50.0, "min_of_3": {"a": 5.0, "b": 10.0}},
        "q_raw": {"a": 2.0, "b": 4.0},
        "q_err": {"a": "ERR:X", "b": 3.0},
    }))
    r = load_prev_ratios(str(p))
    assert r["q_adj"] == 2.0 and r["q_raw"] == 2.0 and "q_err" not in r
    assert load_prev_ratios(str(tmp_path / "missing.json")) == {}


def test_bench_validity_gate_on_loadavg():
    """bench.py stamps valid=false when the pre-run 1-min loadavg
    says another workload owned the cores (round-14 verdict: the r13
    contended calibration divisor inverted the cross-round normalized
    trend; raw min-of-N on valid-only records is the metric)."""
    import bench

    assert bench.bench_valid([0.21, 0.3, 0.4]) is True
    assert bench.bench_valid([2.0, 5.0, 9.0]) is True  # boundary
    assert bench.bench_valid([11.24, 9.8, 7.7]) is False  # the r14 record
    assert bench.bench_valid(None) is True  # platform without getloadavg


def test_code_lines_skips_comments_docstrings_and_blanks():
    """tools/code_lines.py counts a line only when it holds code: the
    module, class and function docstrings, comment-only lines and
    blank lines do not count; a string that is not a docstring and a
    line with a trailing comment do."""
    from tools.code_lines import code_lines

    src = '''"""Module docstring,
two lines."""

import os  # a trailing comment keeps the line


def f(x):
    """Function docstring."""
    # a comment-only line
    s = """a multi-line string
that is not a docstring"""
    return (x,
            s)


class C:
    """Class docstring."""

    y = 1
'''
    assert code_lines(src) == 8


def test_stream_bench_merge_keeps_rows_a_partial_run_did_not_touch():
    """A partial ``tools/bench_streaming.py`` run replaces only the rows
    of the topologies it ran; the other rows keep their own batch
    counts, and the record has no run-wide batch count to contradict
    them."""
    from tools.bench_streaming import merge_record

    prior = {
        "metric": "streaming_topology_bench",
        "n_batches": 10,
        "loadavg_start": [1.0, 1.0, 1.0],
        "results": [
            {"topology": "delta", "batches": 50, "wall_last_sec": 3.0},
            {"topology": "curation", "batches": 10, "wall_last_sec": 7.0},
        ],
    }
    run = [{"topology": "curation", "batches": 4, "wall_last_sec": 5.0}]
    rec = merge_record(prior, run, [0.5, 0.5, 0.5])
    assert rec["results"] == [
        {"topology": "delta", "batches": 50, "wall_last_sec": 3.0},
        {"topology": "curation", "batches": 4, "wall_last_sec": 5.0},
    ]
    assert "n_batches" not in rec
    assert rec["loadavg_start"] == [0.5, 0.5, 0.5]
    assert merge_record(None, run, None)["results"] == run
