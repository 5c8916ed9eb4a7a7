"""Delta-operator goldens.

The canonical 6-record sequence (two keys, values
pass / not-pass / pass each) must emit records 0, 2, 3, 5 — parity:
topology/VavrKStreamWithDeltaTopologyTest.java:312-331 with fixture
at :334-376. Both batch paths (expression window and the linear
``mapInPandas`` fold) must agree; the streaming path,
``delta_topology``, is tested in ``test_streaming.py``.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from maston_spark.delta import (
    changed_predicate,
    delta_dedup_expr,
    delta_dedup_fold,
)

GOLDEN = [
    Row(seq=0, business_key="key-1", string_value="should_pass"),
    Row(seq=1, business_key="key-1", string_value="should_not_pass"),
    Row(seq=2, business_key="key-1", string_value="should_pass"),
    Row(seq=3, business_key="key-2", string_value="should_pass"),
    Row(seq=4, business_key="key-2", string_value="should_not_pass"),
    Row(seq=5, business_key="key-2", string_value="should_pass"),
]
# The reference test's RecordDeltaProcessor is
# ``(old, new) -> old.value.contains(new.value)`` — records 1 and 4
# ("should_not_pass" not contained in stored "should_pass") are
# suppressed; 2 and 5 re-emit. Exact same predicate here.
ACCEPT = lambda old, new: new["string_value"] in old["string_value"]  # noqa: E731
EXPECTED = [0, 2, 3, 5]


def _emitted(rows):
    return sorted(r.seq for r in rows)


def test_delta_fold_matches_reference_golden(spark):
    df = spark.createDataFrame(GOLDEN)
    out = delta_dedup_fold(df, ["business_key"], ["seq"], ACCEPT)
    assert _emitted(out.collect()) == EXPECTED


def _model_fold(rows, key_cols, is_updated):
    """Pure-Python emit-iff-updated: per key (None is a key value),
    in ``seq`` order, emit the first record and every record the
    predicate accepts against the last *accepted* one."""
    last: dict = {}
    out = []
    for r in sorted(rows, key=lambda r: r["seq"]):
        k = tuple(r[c] for c in key_cols)
        if k not in last or is_updated(last[k], r):
            last[k] = r
            out.append(r["seq"])
    return sorted(out)


# |Δv| >= 2: a record can be suppressed against the last accepted
# record while differing from the last seen one, so a fold that
# compared with its predecessor row would disagree with the model
JUMP = lambda old, new: abs(new["v"] - old["v"]) >= 2  # noqa: E731


@settings(max_examples=25, deadline=None)
@given(
    keys=st.sampled_from([["k1"], ["k1", "k2"]]),
    vals=st.lists(
        st.tuples(
            st.sampled_from([None, "a", "b"]),
            st.sampled_from([None, 0, 1]),
            st.integers(0, 5),
        ),
        min_size=1,
        max_size=40,
    ),
)
def test_prop_delta_fold_matches_model(spark, keys, vals):
    """The linear fold equals the model on null keys, two-column keys,
    a predicate where last-accepted != last-seen, and key runs that
    span Arrow batches (two records per batch)."""
    rows = [dict(seq=i, k1=a, k2=b, v=v) for i, (a, b, v) in enumerate(vals)]
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "2")
        df = spark.createDataFrame(rows, "seq int, k1 string, k2 int, v int")
        got = sorted(r.seq for r in delta_dedup_fold(df, keys, ["seq"], JUMP).collect())
    finally:
        spark.conf.set(conf, prev)
    assert got == _model_fold(rows, keys, JUMP)


def test_delta_expr_change_semantics(spark):
    """The expression path implements the *changed-columns* variant:
    emit iff any changed col differs from the previous accepted row."""
    df = spark.createDataFrame(GOLDEN)
    out = delta_dedup_expr(df, ["business_key"], ["seq"], ["string_value"])
    # under pure change-detection every record differs from its
    # predecessor, so all 6 emit — except none are equal; craft a
    # sequence with genuine repeats instead:
    rows = [
        Row(seq=0, business_key="k", string_value="a"),
        Row(seq=1, business_key="k", string_value="a"),  # dup → suppressed
        Row(seq=2, business_key="k", string_value="b"),
        Row(seq=3, business_key="k", string_value="b"),  # dup → suppressed
        Row(seq=4, business_key="k", string_value="a"),
    ]
    out2 = delta_dedup_expr(
        spark.createDataFrame(rows), ["business_key"], ["seq"], ["string_value"]
    )
    assert _emitted(out2.collect()) == [0, 2, 4]
    assert _emitted(out.collect()) == [0, 1, 2, 3, 4, 5]


def test_delta_expr_equals_fold_under_change_predicate(spark):
    """On real data the expr path and the general fold agree when the
    predicate is column-inequality."""
    from maston_spark.session import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "event_type"
    )
    a = delta_dedup_expr(ev, ["user_id"], ["event_id"], ["event_type"])
    b = delta_dedup_fold(
        ev, ["user_id"], ["event_id"], changed_predicate(["event_type"])
    )
    assert sorted(r.event_id for r in a.collect()) == sorted(
        r.event_id for r in b.collect()
    )
