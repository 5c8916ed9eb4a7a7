"""Delta-operator goldens.

The canonical 6-record sequence (two keys, values
pass / not-pass / pass each) must emit records 0, 2, 3, 5 — parity:
topology/VavrKStreamWithDeltaTopologyTest.java:312-331 with fixture
at :334-376. Both batch paths (expression window and the linear
``mapInPandas`` fold) and the streaming path (applyInPandasWithState)
must agree.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row

from maston_spark.delta import (
    changed_predicate,
    delta_dedup_expr,
    delta_dedup_fold,
    delta_dedup_stream,
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


def test_delta_stream_matches_reference_golden(spark):
    """Streaming path: file source → applyInPandasWithState → memory
    sink. Two micro-batches split mid-key to prove state persists
    across batches."""
    src = tempfile.mkdtemp(prefix="delta_src_")
    chk = tempfile.mkdtemp(prefix="delta_chk_")
    try:
        batch1, batch2 = GOLDEN[:3], GOLDEN[3:]
        spark.createDataFrame(batch1).coalesce(1).write.mode("overwrite").parquet(
            src + "/b1"
        )
        spark.createDataFrame(batch2).coalesce(1).write.mode("overwrite").parquet(
            src + "/b2"
        )
        schema = spark.createDataFrame(GOLDEN).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/b*")
        )
        out = delta_dedup_stream(stream, ["business_key"], ["seq"], ACCEPT)
        q = (
            out.writeStream.format("memory")
            .queryName("delta_golden")
            .outputMode("append")
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("select * from delta_golden").collect()
        finally:
            q.stop()
        assert _emitted(rows) == EXPECTED
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_delta_stream_state_survives_across_batches(spark):
    """A duplicate arriving in a LATER micro-batch must still be
    suppressed (per-key GroupState, not per-batch memory)."""
    rows1 = [Row(seq=0, business_key="k", string_value="x")]
    rows2 = [Row(seq=1, business_key="k", string_value="x")]  # dup, later batch
    src = tempfile.mkdtemp(prefix="delta_src2_")
    chk = tempfile.mkdtemp(prefix="delta_chk2_")
    try:
        spark.createDataFrame(rows1).coalesce(1).write.parquet(src + "/b1")
        spark.createDataFrame(rows2).coalesce(1).write.parquet(src + "/b2")
        schema = spark.createDataFrame(rows1).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/b*")
        )
        out = delta_dedup_stream(
            stream, ["business_key"], ["seq"], changed_predicate(["string_value"])
        )
        q = (
            out.writeStream.format("memory")
            .queryName("delta_state")
            .outputMode("append")
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
            emitted = _emitted(spark.sql("select * from delta_state").collect())
        finally:
            q.stop()
        assert emitted == [0]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def test_delta_stream_ttl_evicts_idle_key(spark):
    """With ``state_ttl_ms``, a key idle past the TTL is evicted and
    its next (duplicate) record re-emits as first-seen — the bounded-
    state behavior the reference's ever-growing store lacks.

    Drive: b1 = key A (emits, arms TTL) → idle past TTL (an empty
    trigger fires A's timeout → eviction) → b2 = duplicate of A
    (re-emits because state is gone). Without TTL, seq 1 would be
    suppressed (see test_delta_stream_state_survives_across_batches).

    NOTE: with ProcessingTimeTimeout the micro-batch engine keeps
    scheduling (empty) batches to service timers, so
    ``processAllAvailable()`` never settles — the sink is POLLED with
    a deadline instead.
    """
    import time

    def wait_rows(n, deadline_s=60.0):
        t0 = time.monotonic()
        while time.monotonic() - t0 < deadline_s:
            if spark.sql("select * from delta_ttl").count() >= n:
                return
            time.sleep(0.2)
        raise AssertionError(
            f"sink did not reach {n} rows in {deadline_s}s: "
            f"{spark.sql('select * from delta_ttl').collect()}"
        )

    src = tempfile.mkdtemp(prefix="delta_ttl_src_")
    chk = tempfile.mkdtemp(prefix="delta_ttl_chk_")
    try:
        schema = spark.createDataFrame(
            [Row(seq=0, business_key="A", string_value="x")]
        ).schema
        stream = spark.readStream.schema(schema).parquet(src + "/b*")
        out = delta_dedup_stream(
            stream,
            ["business_key"],
            ["seq"],
            changed_predicate(["string_value"]),
            state_ttl_ms=500,
        )
        q = (
            out.writeStream.format("memory")
            .queryName("delta_ttl")
            .outputMode("append")
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            spark.createDataFrame(
                [Row(seq=0, business_key="A", string_value="x")]
            ).coalesce(1).write.parquet(src + "/b1")
            wait_rows(1)
            time.sleep(2.0)  # idle past the 500 ms TTL → timer evicts A
            spark.createDataFrame(
                [Row(seq=1, business_key="A", string_value="x")]  # dup of seq 0
            ).coalesce(1).write.parquet(src + "/b2")
            # seq 1 appears ONLY if the TTL evicted A's state
            wait_rows(2)
            emitted = _emitted(spark.sql("select * from delta_ttl").collect())
        finally:
            q.stop()
        assert emitted == [0, 1]
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)


def _protobuf_ok() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_ok(),
    reason="transformWithStateInPandas needs google.protobuf, absent here",
)
def test_delta_tws_matches_reference_golden(spark):
    """Same golden through the v2 arbitrary-state API
    (transformWithStateInPandas + ValueState), which needs the
    RocksDB state store provider."""
    from maston_spark.delta import delta_dedup_tws

    src = tempfile.mkdtemp(prefix="delta_tws_src_")
    chk = tempfile.mkdtemp(prefix="delta_tws_chk_")
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        batch1, batch2 = GOLDEN[:3], GOLDEN[3:]
        spark.createDataFrame(batch1).coalesce(1).write.parquet(src + "/b1")
        spark.createDataFrame(batch2).coalesce(1).write.parquet(src + "/b2")
        schema = spark.createDataFrame(GOLDEN).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/b*")
        )
        out = delta_dedup_tws(stream, ["business_key"], ["seq"], ACCEPT)
        q = (
            out.writeStream.format("memory")
            .queryName("delta_tws")
            .outputMode("append")
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
            rows = spark.sql("select * from delta_tws").collect()
        finally:
            q.stop()
        assert _emitted(rows) == EXPECTED
    finally:
        spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(chk, ignore_errors=True)
