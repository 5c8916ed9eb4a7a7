"""Streaming layer tests: watermarked windows, in-stream dedup,
stream-static joins, the two reference topologies end-to-end with
memory/parquet sinks, and observe() metrics via the listener.

All tests use the file replay source (the TopologyTestDriver
analogue) + processAllAvailable, so they are deterministic.
"""

from __future__ import annotations

import json
import shutil
import tempfile
from datetime import datetime

import pytest
from pyspark.sql import Row, functions as F

from maston_spark.observability import MetricsListener, observe_errors
from maston_spark.sources import file_stream, rate_stream, replay_stream
from maston_spark.streaming.ops import (
    drop_duplicates_within_watermark,
    stream_static_join,
    tumbling_window_agg,
)
from maston_spark.streaming.topology import delta_topology, simple_validated_topology

SCHEMA = "business_key string, string_value string, seq bigint"


def _tmp():
    return tempfile.mkdtemp(prefix="stream_test_")


def _payload(key, value, seq):
    return json.dumps({"business_key": key, "string_value": value, "seq": seq})


@pytest.fixture()
def cleanup():
    dirs = []
    yield dirs
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _run_to_memory(spark, df, name, chk, mode="append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"select * from {name}")


def test_tumbling_window_agg_stream(spark, cleanup):
    rows = [
        Row(ts=datetime(2024, 1, 1, 0, m, s), k="a", v=1.0)
        for m, s in [(0, 10), (0, 50), (1, 10), (2, 5)]
    ]
    stream, src = replay_stream(spark.createDataFrame(rows))
    chk = _tmp()
    cleanup.extend([src, chk])
    out = tumbling_window_agg(
        stream, "ts", "1 minute", ["k"], [F.sum("v").alias("total")]
    )
    # append mode holds windows open until the watermark passes them;
    # with a finite replay the last windows would never emit, so the
    # test reads the full aggregation state via complete mode
    got = _run_to_memory(spark, out, "tumbling_t", chk, mode="complete").collect()
    by_start = {r.window_start.minute: r.total for r in got}
    assert by_start == {0: 2.0, 1: 1.0, 2: 1.0}


def test_drop_duplicates_within_watermark_stream(spark, cleanup):
    rows = [
        Row(ts=datetime(2024, 1, 1, 0, 0, i), event_id=i % 2, v=i) for i in range(6)
    ]
    stream, src = replay_stream(spark.createDataFrame(rows))
    chk = _tmp()
    cleanup.extend([src, chk])
    out = drop_duplicates_within_watermark(stream, ["event_id"], "ts", "1 hour")
    got = _run_to_memory(spark, out, "ddww_t", chk).collect()
    assert sorted(r.event_id for r in got) == [0, 1]


def test_stream_static_join_broadcasts_dim(spark, cleanup):
    rows = [Row(nk=i % 3, v=float(i)) for i in range(9)]
    stream, src = replay_stream(spark.createDataFrame(rows))
    chk = _tmp()
    cleanup.extend([src, chk])
    dim = spark.createDataFrame([Row(nk=i, name=f"n{i}") for i in range(3)])
    out = stream_static_join(stream, dim, ["nk"])
    got = _run_to_memory(spark, out, "ssj_t", chk).collect()
    assert len(got) == 9 and all(r.name == f"n{r.nk}" for r in got)


def test_rate_source_shape(spark):
    df = rate_stream(spark, rows_per_second=5)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["timestamp", "value"]


def test_simple_validated_topology_end_to_end(spark, cleanup):
    good = _payload("key-1", "v1", 0)
    bad = "not-json{{"
    src_df = spark.createDataFrame([Row(value=good), Row(value=bad)])
    stream, src = replay_stream(src_df)
    chk = _tmp()
    cleanup.extend([src, chk])
    sunk: dict[str, list] = {"valid": [], "error": []}
    metrics: list = []

    q = simple_validated_topology(
        stream,
        SCHEMA,
        app_id="t-app",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        on_metrics=lambda bid, c: metrics.append(c),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(sunk["valid"]) == 1 and len(sunk["error"]) == 1
    ok_row = sunk["valid"][0]
    assert ok_row.ok.business_key == "key-1"
    assert json.loads(bytes(ok_row.value_out))["string_value"] == "v1"
    err_row = sunk["error"][0]
    # original bytes preserved verbatim + 11 provenance headers
    assert bytes(err_row.value_out) == bad.encode()
    assert len(err_row.headers) == 11
    assert sum(m["valid"] for m in metrics) == 1
    assert sum(m["error"] for m in metrics) == 1


def test_delta_topology_reference_golden(spark, cleanup):
    """The 6-record golden through the full topology: emits 0,2,3,5
    to the valid sink, nothing to the error sink — parity:
    VavrKStreamWithDeltaTopologyTest.java:312-331."""
    seq = [
        ("key-1", "should_pass"),
        ("key-1", "should_not_pass"),
        ("key-1", "should_pass"),
        ("key-2", "should_pass"),
        ("key-2", "should_not_pass"),
        ("key-2", "should_pass"),
    ]
    src_df = spark.createDataFrame(
        [Row(value=_payload(k, v, i)) for i, (k, v) in enumerate(seq)]
    )
    stream, src = replay_stream(src_df)
    chk = _tmp()
    cleanup.extend([src, chk])
    sunk: dict[str, list] = {"valid": [], "error": []}

    q = delta_topology(
        stream,
        SCHEMA,
        app_id="t-delta",
        checkpoint=chk,
        business_key=F.col("ok.business_key"),
        order_cols=["ok.seq"],
        is_updated=lambda old, new: new["ok"]["string_value"]
        in old["ok"]["string_value"],
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert sunk["error"] == []
    assert sorted(r.ok.seq for r in sunk["valid"]) == [0, 2, 3, 5]


def test_delta_topology_state_survives_micro_batches(spark, cleanup):
    """The same golden sequence split across 3 micro-batches (2
    records each) must STILL emit exactly 0,2,3,5: record 1
    ("should_not_pass" arriving in a later batch than its
    predecessor) stays suppressed because the last-accepted state is
    durable across batches — parity with the reference's persistent
    store (topology/TopologyBuilder.java:66-69,87), where
    TopologyTestDriver pipes records one at a time."""
    seq = [
        ("key-1", "should_pass"),
        ("key-1", "should_not_pass"),
        ("key-1", "should_pass"),
        ("key-2", "should_pass"),
        ("key-2", "should_not_pass"),
        ("key-2", "should_pass"),
    ]
    src_df = spark.createDataFrame(
        [
            Row(value=_payload(k, v, i), __replay_batch=i // 2)
            for i, (k, v) in enumerate(seq)
        ]
    )
    stream, src = replay_stream(src_df, batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    sunk: dict[str, list] = {"valid": [], "error": []}
    batches: list = []

    q = delta_topology(
        stream,
        SCHEMA,
        app_id="t-delta-state",
        checkpoint=chk,
        business_key=F.col("ok.business_key"),
        order_cols=["ok.seq"],
        is_updated=lambda old, new: new["ok"]["string_value"]
        in old["ok"]["string_value"],
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        on_metrics=lambda bid, c: batches.append(bid),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(batches) >= 2, "replay must actually span multiple micro-batches"
    assert sunk["error"] == []
    assert sorted(r.ok.seq for r in sunk["valid"]) == [0, 2, 3, 5]


def test_delta_topology_batch_tasks_bounded_by_cores(spark, cleanup):
    """Every Python task costs a worker round-trip even when empty, and
    AQE does not coalesce the fold's exchange inside ``foreachBatch``,
    so no stage of a delta micro-batch may run more than the cores
    (+1 for the union with the DLQ branch). Shuffle partitions are set
    to the session default of 32 so a fold sized by that setting
    fails here."""
    rows = [
        Row(value=_payload(f"key-{i % 40}", f"v{i % 3}", i), __replay_batch=i // 200)
        for i in range(400)
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=2)
    chk = _tmp()
    cleanup.extend([src, chk])
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "32")
    try:
        q = delta_topology(
            stream,
            SCHEMA,
            app_id="t-delta-tasks",
            checkpoint=chk,
            business_key=F.col("ok.business_key"),
            order_cols=["ok.seq"],
            is_updated=lambda old, new: old["ok"]["string_value"]
            != new["ok"]["string_value"],
            write_valid=lambda df: df.write.format("noop").mode("overwrite").save(),
            write_error=lambda df: df.write.format("noop").mode("overwrite").save(),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(conf, prev)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(q.runId)
    assert jobs, "the micro-batch jobs must run under the query's run id"
    ran = {}
    for j in jobs:
        for sid in tracker.getJobInfo(j).stageIds:
            info = tracker.getStageInfo(sid)
            if info is not None:
                ran[sid] = info.numCompletedTasks + info.numFailedTasks
    assert max(ran.values()) <= sc.defaultParallelism + 1, ran


DOC_SCHEMA = "doc_id bigint, text string"

# permissive gate: only the token-count floor can fire, so the test
# controls exactly which rule rejects
GATE = dict(
    min_tokens=3,
    max_tokens=1000,
    min_avg_token_len=0.0,
    max_avg_token_len=1000.0,
    min_stopword_ratio=0.0,
    max_top_bigram_frac=1.0,
    max_dup_bigram_frac=1.0,
)


def _doc(i, text):
    return json.dumps({"doc_id": i, "text": text})


def _hdr(row, key):
    for h in row.headers:
        if h.key == key:
            return bytes(h.value).decode()
    return None


def test_curation_topology_multi_batch_golden(spark, cleanup):
    """The full curation stream through 4 micro-batches: parse
    failures, quality-gate rejects, historical duplicates,
    CROSS-BATCH duplicates (doc accepted in batch 0 suppresses its
    copy arriving in batch 2 — the durable bloom+state path), and
    within-batch first-copy-wins — every reject on the one error
    channel with provenance headers, survivors on the valid sink.
    Golden style mirrors VavrKStreamWithDeltaTopologyTest.java:263-331."""
    from maston_spark.streaming.topology import curation_topology

    a_text = "the quick brown fox jumps over the lazy dog"
    hist_text = "historical document text alpha beta gamma"
    d_text = "pack my box with five dozen liquor jugs"
    records = [
        (0, _doc(0, a_text)),            # batch 0: accepted
        (0, "not-json{{"),               # batch 0: parse error
        (1, _doc(2, hist_text)),         # batch 1: dup of ref corpus
        (1, _doc(3, "hi yo")),           # batch 1: gate reject (<3 tokens)
        (2, _doc(4, a_text)),            # batch 2: CROSS-BATCH dup of doc 0
        (2, _doc(5, "sphinx of black quartz judge my vow")),  # accepted
        (3, _doc(6, d_text)),            # batch 3: accepted (first copy)
        (3, _doc(7, d_text)),            # batch 3: within-batch dup
    ]
    src_df = spark.createDataFrame(
        [Row(value=v, __replay_batch=b) for b, v in records]
    )
    stream, src = replay_stream(src_df, batches=4)
    chk = _tmp()
    cleanup.extend([src, chk])
    ref = spark.createDataFrame([(100, hist_text)], DOC_SCHEMA)
    sunk: dict[str, list] = {"valid": [], "error": []}
    metrics: list = []

    q = curation_topology(
        stream,
        DOC_SCHEMA,
        ref,
        app_id="t-curation",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        gate_kwargs=GATE,
        on_metrics=lambda bid, c: metrics.append((bid, c)),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert sorted(r.ok.doc_id for r in sunk["valid"]) == [0, 5, 6]
    errs = {r.ok.doc_id if r.ok else None: r for r in sunk["error"]}
    assert set(errs) == {None, 2, 3, 4, 7}
    # every reject carries the 11 provenance headers
    for r in sunk["error"]:
        assert len(r.headers) == 11
    k_exc = "maston.error.exception.class"
    assert _hdr(errs[None], k_exc) == "JsonParseException"
    assert _hdr(errs[3], k_exc) == "QualityGateRejected"
    assert "too_few_tokens" in _hdr(errs[3], "maston.error.exception.message")
    assert _hdr(errs[2], k_exc) == "DuplicateRecord"   # vs historical corpus
    assert _hdr(errs[4], k_exc) == "DuplicateRecord"   # vs batch-0 accept
    assert _hdr(errs[7], k_exc) == "DuplicateRecord"   # within-batch copy
    assert len(metrics) >= 2, "replay must span multiple micro-batches"
    assert sum(c["valid"] for _, c in metrics) == 3
    assert sum(c["error"] for _, c in metrics) == 5
    # per-cause reject breakdown (the refined error-count metric)
    assert sum(c["parse_error"] for _, c in metrics) == 1
    assert sum(c["gate_rejected"] for _, c in metrics) == 1
    assert sum(c["duplicate"] for _, c in metrics) == 3


def test_curation_topology_duplicate_ids_within_batch(spark, cleanup):
    """At-least-once redelivery puts the SAME doc_id in one batch
    twice: identical payloads yield one accept + one DuplicateRecord;
    an edited payload under the same id gets its OWN gate verdict
    (keyed on (id, content), never the sibling's) — no join fan-out,
    no cross-attributed verdicts."""
    from maston_spark.streaming.topology import curation_topology

    a_text = "the quick brown fox jumps over the lazy dog"
    records = [
        _doc(1, a_text),        # accepted
        _doc(1, a_text),        # identical redelivery → duplicate
        _doc(2, "sphinx of black quartz judge my vow"),   # accepted
        _doc(2, "hi yo"),       # same id, edited payload → gate reject
    ]
    src_df = spark.createDataFrame([Row(value=v) for v in records])
    stream, src = replay_stream(src_df)
    chk = _tmp()
    cleanup.extend([src, chk])
    ref = spark.createDataFrame(
        [(100, "historical document text alpha beta gamma")], DOC_SCHEMA
    )
    sunk: dict[str, list] = {"valid": [], "error": []}
    q = curation_topology(
        stream,
        DOC_SCHEMA,
        ref,
        app_id="t-curation-dupid",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        gate_kwargs=GATE,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # exactly 4 rows total — the dup-id join must not fan out
    assert len(sunk["valid"]) + len(sunk["error"]) == 4
    valid_ids = sorted(r.ok.doc_id for r in sunk["valid"])
    assert valid_ids == [1, 2]
    k_exc = "maston.error.exception.class"
    errs = sorted(_hdr(r, k_exc) for r in sunk["error"])
    assert errs == ["DuplicateRecord", "QualityGateRejected"]
    # the gate reject is the short payload, not the good doc-2 text
    gate_row = [
        r for r in sunk["error"]
        if _hdr(r, k_exc) == "QualityGateRejected"
    ][0]
    assert gate_row.ok.text == "hi yo"


def test_curation_topology_state_survives_restart(spark, cleanup):
    """Stop the stream after batch 0, start a NEW query on the same
    checkpoint: a copy of the batch-0-accepted doc arriving after the
    restart is still suppressed — the bitmap is replayed from the
    durable state table, not just driver memory."""
    from maston_spark.streaming.topology import curation_topology

    a_text = "the quick brown fox jumps over the lazy dog"
    chk = _tmp()
    src = tempfile.mkdtemp(prefix="replay_src_")
    cleanup.extend([src, chk])
    ref = spark.createDataFrame(
        [(100, "historical document text alpha beta gamma")], DOC_SCHEMA
    )
    sunk: dict[str, list] = {"valid": [], "error": []}

    def start():
        stream = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/b*")
        )
        return curation_topology(
            stream,
            DOC_SCHEMA,
            ref,
            app_id="t-curation-restart",
            checkpoint=chk,
            write_valid=lambda df: sunk["valid"].extend(df.collect()),
            write_error=lambda df: sunk["error"].extend(df.collect()),
            gate_kwargs=GATE,
        )

    spark.createDataFrame([Row(value=_doc(0, a_text))]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [r.ok.doc_id for r in sunk["valid"]] == [0]

    # second file lands while the stream is DOWN; a fresh query (new
    # curation_topology instance → fresh driver bitmap) must rebuild
    # suppression state from the parquet state table
    spark.createDataFrame([Row(value=_doc(9, a_text))]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r.ok.doc_id for r in sunk["valid"]) == [0]
    assert [r.ok.doc_id for r in sunk["error"]] == [9]
    assert (
        _hdr(sunk["error"][0], "maston.error.exception.class")
        == "DuplicateRecord"
    )


def test_delta_topology_explicit_state_dir_not_mistaken_for_retry(spark, cleanup):
    """An explicit state_dir reused with a FRESH checkpoint must start
    empty. Batch ids restart at 0 for a new checkpoint, so without the
    ``_owner`` guard the previous run's v0 would match the retry
    corner (``batch_id in versions``) and wrongly suppress the new
    stream's first-batch records."""

    def run_once(records, checkpoint, state_dir):
        src_df = spark.createDataFrame(
            [Row(value=_payload(k, v, i)) for i, (k, v) in enumerate(records)]
        )
        stream, src = replay_stream(src_df)
        cleanup.append(src)
        sunk: dict[str, list] = {"valid": [], "error": []}
        q = delta_topology(
            stream,
            SCHEMA,
            app_id="t-delta-owner",
            checkpoint=checkpoint,
            business_key=F.col("ok.business_key"),
            order_cols=["ok.seq"],
            is_updated=lambda old, new: new["ok"]["string_value"]
            in old["ok"]["string_value"],
            write_valid=lambda df: sunk["valid"].extend(df.collect()),
            write_error=lambda df: sunk["error"].extend(df.collect()),
            state_dir=state_dir,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sunk

    sdir = _tmp()
    chk1, chk2 = _tmp(), _tmp()
    cleanup.extend([sdir, chk1, chk2])
    first = run_once([("key-1", "should_pass")], chk1, sdir)
    assert sorted(r.ok.seq for r in first["valid"]) == [0]
    # fresh checkpoint, same state dir: a new stream has no history,
    # so its first record per key must be emitted even though the
    # stale v0 the first run left behind would judge it not-updated
    second = run_once([("key-1", "should_not_pass")], chk2, sdir)
    assert sorted(r.ok.seq for r in second["valid"]) == [0]


def test_observe_errors_batch_and_listener(spark, cleanup):
    from maston_spark.validated import safe_from_json

    df = spark.createDataFrame(
        [Row(value=_payload("k", "v", 0)), Row(value="junk((")]
    )
    validated = safe_from_json(df, "value", SCHEMA)
    observed, obs = observe_errors(validated)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    assert m["n_records"] == 2
    assert m["n_errors"] == 1
    assert m["n_deserialization_errors"] == 1
    assert m["n_processing_errors"] == 0

    # streaming path: listener captures per-batch observed metrics
    listener = MetricsListener()
    spark.streams.addListener(listener)
    try:
        stream, src = replay_stream(df)
        chk = _tmp()
        cleanup.extend([src, chk])
        sobs, _ = observe_errors(safe_from_json(stream, "value", SCHEMA))
        q = (
            sobs.writeStream.format("noop")
            .option("checkpointLocation", chk)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # listener delivery is async wrt processAllAvailable — poll
        import time

        rows = []
        for _ in range(40):
            rows = listener.snapshot()
            if sum(r.get("n_records", 0) for r in rows) >= 2:
                break
            time.sleep(0.25)
        assert sum(r.get("n_errors", 0) for r in rows) == 1
        assert sum(r.get("n_records", 0) for r in rows) == 2
    finally:
        spark.streams.removeListener(listener)


def test_stream_stream_join(spark, cleanup):
    """Watermarked stream-stream join through the replay source: the
    time-bounded condition keeps state finite; results match the
    batch join."""
    from datetime import datetime, timedelta

    from maston_spark.streaming.ops import stream_stream_join

    base = datetime(2024, 1, 1)
    left_rows = [Row(k=i % 3, lts=base + timedelta(seconds=10 * i), lv=i) for i in range(9)]
    right_rows = [Row(k=i % 3, rts=base + timedelta(seconds=10 * i + 5), rv=i * 10) for i in range(9)]
    ls, src1 = replay_stream(spark.createDataFrame(left_rows))
    rs, src2 = replay_stream(spark.createDataFrame(right_rows))
    chk = _tmp()
    cleanup.extend([src1, src2, chk])
    joined = stream_stream_join(
        ls.withColumnRenamed("k", "lk"),
        rs.withColumnRenamed("k", "rk"),
        on=(
            (F.col("lk") == F.col("rk"))
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") <= F.col("lts") + F.expr("interval 6 seconds"))
        ),
        left_ts="lts",
        right_ts="rts",
        watermark="1 hour",
    )
    got = _run_to_memory(spark, joined, "ssj2_t", chk).collect()
    # each left row i pairs exactly with right row i (same k, +5s)
    assert len(got) == 9
    assert all(r.rv == r.lv * 10 for r in got)


def test_avro_gate_reports_unavailable_without_crashing(spark):
    """spark-avro is not on this classpath; the serde layer must
    detect that cleanly (prod deployments add the module jar)."""
    from maston_spark.validated import avro_available, safe_from_avro

    assert avro_available(spark) is False


def test_update_output_mode_windowed_agg(spark, cleanup):
    """Update mode emits changed aggregate rows per trigger (the
    low-latency alternative to append's watermark wait)."""
    rows = [
        Row(ts=datetime(2024, 1, 1, 0, 0, 10 * i), k="a", v=1.0) for i in range(4)
    ]
    stream, src = replay_stream(spark.createDataFrame(rows))
    chk = _tmp()
    cleanup.extend([src, chk])
    out = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 minute"), "k")
        .agg(F.sum("v").alias("total"))
        .select(F.col("window.start").alias("ws"), "k", "total")
    )
    got = _run_to_memory(spark, out, "upd_t", chk, mode="update").collect()
    # final state for the single window must appear with total 4.0
    assert max(r.total for r in got) == 4.0


def test_available_now_trigger_drains_and_stops(spark, cleanup):
    """availableNow: process everything currently available in
    bounded micro-batches, then stop — the Kafka-backfill pattern."""
    rows = [Row(x=i) for i in range(20)]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=1)
    chk = _tmp()
    cleanup.extend([src, chk])
    q = (
        stream.writeStream.format("memory")
        .queryName("avnow_t")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert not q.isActive  # drained and self-stopped
    assert spark.sql("select count(*) n from avnow_t").collect()[0].n == 20


def test_avro_validated_topology_end_to_end(spark, cleanup):
    """The reference's PRIMARY entry point is the registry-framed
    Avro consumer (consumer/SimpleAvroStreamConsumer.java:33-53);
    this drives the same topology with value_format='avro': framed
    Avro in → vectorized safe decode → valid/error fan-out, corrupt
    payloads landing in the error sink with the raw bytes and
    provenance headers intact."""
    from maston_spark import avro_codec as AC

    avro_schema = {
        "name": "Rec", "type": "record",
        "fields": [
            {"name": "business_key", "type": "string"},
            {"name": "string_value", "type": ["null", "string"], "default": None},
            {"name": "seq", "type": "long"},
        ],
    }
    good = AC.confluent_wrap(
        7,
        AC.encode_record(
            avro_schema,
            {"business_key": "key-1", "string_value": "v1", "seq": 0},
        ),
    )
    bad = good[:6]  # framing intact, body truncated mid-record
    src_df = spark.createDataFrame([Row(value=good), Row(value=bad)])
    stream, src = replay_stream(src_df)
    chk = _tmp()
    cleanup.extend([src, chk])
    sunk: dict[str, list] = {"valid": [], "error": []}

    q = simple_validated_topology(
        stream,
        avro_schema,
        app_id="t-avro-app",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        value_format="avro",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(sunk["valid"]) == 1 and len(sunk["error"]) == 1
    ok_row = sunk["valid"][0]
    assert ok_row.ok.business_key == "key-1" and ok_row.ok.seq == 0
    err_row = sunk["error"][0]
    assert err_row.err.code == "FAILED_TO_DESERIALIZE_RECORD"
    assert bytes(err_row.err.raw_bytes) == bad
    hdr = {
        h.key: bytes(h.value).decode() for h in err_row.headers if h.value is not None
    }
    assert hdr["maston.error.application.id"] == "t-avro-app"
    assert hdr["maston.error.exception.class"] == "AvroDecodeError"


def test_avro_evolving_topology_mixed_versions(spark, cleanup):
    """Topology consuming a topic with TWO live schema versions
    (value_format='avro-evolving'): v1 frames resolve to the reader
    shape (defaults filled, int->long promoted), v2 frames decode
    directly, unknown schema ids land in the error sink — the
    Confluent serde's normal operating mode
    (serdes/VavrSafeSerdesBuilder.java:17-23)."""
    from maston_spark import avro_codec as AC

    v1 = {
        "name": "Rec", "type": "record",
        "fields": [
            {"name": "business_key", "type": "string"},
            {"name": "seq", "type": "int"},
        ],
    }
    v2 = {
        "name": "Rec", "type": "record",
        "fields": [
            {"name": "business_key", "type": "string"},
            {"name": "string_value", "type": ["null", "string"], "default": None},
            {"name": "seq", "type": "long"},
        ],
    }
    rows = [
        Row(value=AC.confluent_wrap(1, AC.encode_record(v1, {"business_key": "old", "seq": 1}))),
        Row(value=AC.confluent_wrap(2, AC.encode_record(v2, {"business_key": "new", "string_value": "x", "seq": 2}))),
        Row(value=AC.confluent_wrap(9, b"\x02")),  # unregistered id
    ]
    stream, src = replay_stream(spark.createDataFrame(rows))
    chk = _tmp()
    cleanup.extend([src, chk])
    sunk: dict[str, list] = {"valid": [], "error": []}

    q = simple_validated_topology(
        stream,
        (v2, {1: v1, 2: v2}),
        app_id="t-evo-app",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        value_format="avro-evolving",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(sunk["valid"]) == 2 and len(sunk["error"]) == 1
    by_key = {r.ok.business_key: r.ok for r in sunk["valid"]}
    assert by_key["old"].string_value is None and by_key["old"].seq == 1
    assert by_key["new"].string_value == "x" and by_key["new"].seq == 2
    err = sunk["error"][0].err
    assert err.code == "FAILED_TO_DESERIALIZE_RECORD"
    assert "unknown schema id 9" in err.exception_message


def test_avro_topology_produces_avro_bytes(spark, cleanup):
    """Avro in AND Avro out: the topology's produce side uses the
    Confluent-framed Avro safe serializer (serialize= hook), so the
    valid sink receives framed Avro bytes that decode back to the
    processed record — the reference's full registry-serde loop."""
    from maston_spark import avro_codec as AC
    from maston_spark.validated import safe_serialize_avro

    avro_schema = {
        "name": "Rec", "type": "record",
        "fields": [
            {"name": "business_key", "type": "string"},
            {"name": "seq", "type": "long"},
        ],
    }
    good = AC.confluent_wrap(
        7, AC.encode_record(avro_schema, {"business_key": "key-9", "seq": 3})
    )
    stream, src = replay_stream(spark.createDataFrame([Row(value=good)]))
    chk = _tmp()
    cleanup.extend([src, chk])
    sunk: dict[str, list] = {"valid": [], "error": []}

    q = simple_validated_topology(
        stream,
        avro_schema,
        app_id="t-avro-out",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        value_format="avro",
        serialize=lambda d: safe_serialize_avro(d, avro_schema, 7),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(sunk["valid"]) == 1 and not sunk["error"]
    sid, body = AC.confluent_unwrap(bytes(sunk["valid"][0].value_out))
    assert sid == 7
    assert AC.decode_record(avro_schema, body) == {"business_key": "key-9", "seq": 3}


def test_dynamic_avro_topology_resolves_new_schema_at_runtime(spark, cleanup):
    """A schema version that appears MID-STREAM decodes without a
    restart: batch 0 carries only v1 frames; batch 1 introduces v2
    (resolved through the registry client at runtime) plus an id the
    registry doesn't know (err row). Parity: the Confluent
    deserializer's lazy fetch-by-id."""
    import json as _json

    from maston_spark import avro_codec as AC
    from maston_spark.registry import SchemaRegistryClient
    from maston_spark.streaming.topology import dynamic_avro_topology

    v1 = {"name": "Rec", "type": "record", "fields": [
        {"name": "business_key", "type": "string"},
        {"name": "seq", "type": "long"},
    ]}
    v2 = {"name": "Rec", "type": "record", "fields": [
        {"name": "business_key", "type": "string"},
        {"name": "note", "type": ["null", "string"], "default": None},
        {"name": "seq", "type": "long"},
    ]}
    payloads = {
        "/subjects/orders-value/versions/latest": {
            "subject": "orders-value", "id": 2, "version": 2,
            "schema": _json.dumps(v2),
        },
        "/schemas/ids/1": {"schema": _json.dumps(v1)},
        "/schemas/ids/2": {"schema": _json.dumps(v2)},
    }

    def opener(url, headers, timeout):
        path = url.split("http://reg:8081", 1)[1]
        if path in payloads:
            return 200, _json.dumps(payloads[path]).encode()
        return 404, b'{"error_code": 40401}'

    client = SchemaRegistryClient("http://reg:8081", opener=opener)
    rows = [
        Row(__replay_batch=0, value=AC.confluent_wrap(
            1, AC.encode_record(v1, {"business_key": "old", "seq": 1}))),
        Row(__replay_batch=1, value=AC.confluent_wrap(
            2, AC.encode_record(v2, {"business_key": "new", "note": "n", "seq": 2}))),
        Row(__replay_batch=1, value=AC.confluent_wrap(9, b"\x02")),
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=2)
    chk = _tmp()
    cleanup.extend([src, chk])
    sunk: dict[str, list] = {"valid": [], "error": []}

    q = dynamic_avro_topology(
        stream,
        client,
        "orders-value",
        app_id="t-dyn",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(sunk["valid"]) == 2 and len(sunk["error"]) == 1
    by_key = {r.ok.business_key: r.ok for r in sunk["valid"]}
    assert by_key["old"].note is None and by_key["old"].seq == 1
    assert by_key["new"].note == "n" and by_key["new"].seq == 2
    assert "unknown schema id 9" in sunk["error"][0].err.exception_message


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(spark, cleanup):
    """Left-outer stream-stream join: an unmatched left row is held
    back until BOTH watermarks pass its join bound, then emitted with
    a null right side (Spark schedules the no-data micro-batch that
    finalizes it). A second replay batch far in the future advances
    the watermark; the advancing rows themselves stay unemitted (the
    watermark never passes them)."""
    from datetime import datetime, timedelta

    from maston_spark.streaming.ops import stream_stream_join

    base = datetime(2024, 1, 1)
    far = base + timedelta(hours=1)
    left_rows = [
        Row(lk=0, lts=base, lv=1, __replay_batch=0),
        Row(lk=1, lts=base, lv=2, __replay_batch=0),
        Row(lk=2, lts=base, lv=3, __replay_batch=0),   # no right match
        Row(lk=99, lts=far, lv=99, __replay_batch=1),  # watermark pusher
    ]
    right_rows = [
        Row(rk=0, rts=base + timedelta(seconds=5), rv=10, __replay_batch=0),
        Row(rk=1, rts=base + timedelta(seconds=5), rv=20, __replay_batch=0),
        Row(rk=98, rts=far, rv=98, __replay_batch=1),  # watermark pusher
    ]
    ls, src1 = replay_stream(spark.createDataFrame(left_rows), batches=2)
    rs, src2 = replay_stream(spark.createDataFrame(right_rows), batches=2)
    chk = _tmp()
    cleanup.extend([src1, src2, chk])
    joined = stream_stream_join(
        ls,
        rs,
        on=(
            (F.col("lk") == F.col("rk"))
            & (F.col("rts") >= F.col("lts"))
            & (F.col("rts") <= F.col("lts") + F.expr("interval 6 seconds"))
        ),
        left_ts="lts",
        right_ts="rts",
        watermark="5 seconds",
        how="left_outer",
    )
    got = {r.lk: r for r in _run_to_memory(spark, joined, "ssj_lo_t", chk).collect()}
    assert got[0].rv == 10 and got[1].rv == 20
    # the unmatched key emits null-padded ONLY because the watermark passed
    assert got[2].rv is None and got[2].lv == 3
    # the pusher rows are still inside the watermark -> not finalized
    assert 99 not in got


def test_streaming_cdc_upsert_maintains_snapshot(spark, cleanup):
    """Streamed change feed -> foreachBatch(cdc_apply) maintains a
    parquet snapshot: the batch MERGE operator doubles as the
    streaming upsert sink (grouped by replay batch to prove
    cross-batch convergence equals one-shot application)."""
    import os

    from maston_spark.relational import cdc_apply

    base_rows = [Row(k=1, v="a"), Row(k=2, v="b")]
    changes = [
        Row(k=2, v="b2", op="U", seq=0, __replay_batch=0),
        Row(k=3, v="c", op="U", seq=1, __replay_batch=0),
        Row(k=1, v="x", op="D", seq=2, __replay_batch=1),
        Row(k=3, v="c2", op="U", seq=3, __replay_batch=1),
    ]
    snap_dir = _tmp()
    chk = _tmp()
    cleanup.extend([snap_dir, chk])
    snap_path = os.path.join(snap_dir, "snapshot")
    spark.createDataFrame(base_rows).write.mode("overwrite").parquet(snap_path)
    ch_stream, src = replay_stream(spark.createDataFrame(changes), batches=2)
    cleanup.append(src)

    def apply_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        current = spark.read.parquet(snap_path)
        merged = cdc_apply(
            current, batch_df.select("k", "v", "op", "seq"), ["k"], "seq"
        ).collect()  # materialize BEFORE overwriting the input path
        spark.createDataFrame(
            merged, "k long, v string"
        ).write.mode("overwrite").parquet(snap_path)

    q = (
        ch_stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.k: r.v for r in spark.read.parquet(snap_path).collect()}
    assert got == {2: "b2", 3: "c2"}


def test_sketch_metrics_topology_golden(spark, cleanup):
    """Streaming KMV cardinality monitoring over 3 micro-batches:
    running per-group distinct-user estimates, exact below k, and —
    the merge property — the final streamed estimate is bit-identical
    to sketching the whole history in one batch pass."""
    from maston_spark.sketches import kmv_distinct_by
    from maston_spark.streaming.topology import sketch_metrics_topology

    rows = []
    # group 'a': cumulative distinct users 2 -> 3 -> 3 (k=8 exact branch)
    for b, users in enumerate([["u1", "u2", "u2"], ["u2", "u3"], ["u1"]]):
        rows += [Row(g="a", user=u, __replay_batch=b) for u in users]
    # group 'b': 50 distinct users split across batches (estimator branch)
    for i in range(50):
        rows.append(Row(g="b", user=f"v{i}", __replay_batch=i % 3))
    src_df = spark.createDataFrame(rows)
    stream, src = replay_stream(src_df, batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = sketch_metrics_topology(
        stream,
        group_col="g",
        value_col="user",
        k=8,
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {r.g: (r.n_seen, r.n_distinct_est) for r in df.collect()})
        ),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    by_batch = dict(seen)
    # group 'a' stays under k: the estimate IS the exact running count
    assert by_batch[0]["a"] == (2, 2.0)
    assert by_batch[1]["a"] == (3, 3.0)
    assert by_batch[2]["a"] == (3, 3.0)
    # merge property: final streamed estimate == one-shot batch sketch
    final = seen[-1][1]
    oneshot = {
        r.g: r.n_distinct_est
        for r in kmv_distinct_by(
            src_df.select("g", "user"), "g", "user", k=8
        ).collect()
    }
    assert final["b"][1] == oneshot["b"]
    assert final["a"][1] == oneshot["a"]
    # the estimator branch engaged for 'b' (n_seen capped at k)
    assert final["b"][0] == 8


def test_cms_watchlist_topology_golden(spark, cleanup):
    """Streaming count-min watchlist monitoring over 3 batches:
    running per-item estimates accumulate cross-batch, est >= true at
    every batch, and with a wide grid (no collisions) the estimates
    are exactly the running true counts."""
    from maston_spark.streaming.topology import cms_watchlist_topology

    per_batch = [
        ["u1", "u1", "u2"],          # running: u1=2, u2=1
        ["u2", "u3", "u1"],          # running: u1=3, u2=2
        ["u9", "u9", "u9", "u1"],    # running: u1=4, u2=2
    ]
    rows = [
        Row(item=u, __replay_batch=b)
        for b, us in enumerate(per_batch)
        for u in us
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = cms_watchlist_topology(
        stream,
        item_col="item",
        watch=["u1", "u2", "missing"],
        depth=4,
        width=1024,
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {r.item: r.est_count for r in df.collect()})
        ),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    by_batch = dict(seen)
    assert by_batch[0] == {"u1": 2, "u2": 1, "missing": 0}
    assert by_batch[1] == {"u1": 3, "u2": 2, "missing": 0}
    assert by_batch[2] == {"u1": 4, "u2": 2, "missing": 0}


# --------------------------------------------- near-dup curation

NEARDUP_KW = dict(
    neardup=True, minhash_n=16, band_size=4, shingle_n=3, neardup_tau=0.7
)

# long docs so a one-word edit leaves Jaccard high; pairs verified
# against the md5/LCG minhash math (A/A2 agree 16/16 signature
# components, C/C2 14/16, H/H2 12/16 — all >= ceil(0.7*16)=12 with
# >=1 band-bucket collision; unrelated pairs agree on 0)
T_A = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong coffee beneath the ancient oak tree near the river "
    "bend every quiet morning in autumn"
)
T_A2 = T_A.replace("wizards", "goblins")
T_C = (
    "pack my box with five dozen liquor jugs then carry them across "
    "the frozen lake to the wooden cabin where the old keeper waits "
    "patiently for winter supplies"
)
T_C2 = T_C.replace("wooden", "stone")
T_H = (
    "historical archive document describing the construction of the "
    "great canal through the mountain valley completed after twelve "
    "years of labor by thousands of workers"
)
T_H2 = T_H.replace("twelve", "forty")
T_B = (
    "sphinx of black quartz judge my vow as the lighthouse beam "
    "sweeps across the harbor guiding fishing boats home through "
    "the evening fog banks"
)


def test_curation_topology_neardup_golden(spark, cleanup):
    """Near-duplicate suppression across every path: batch 1 carries
    a one-word-edited copy of a batch-0-accepted doc (cross-batch,
    via the durable band-bucket state), an edited copy of a REF
    corpus doc, an exact copy of the batch-0 doc (exact-dup
    precedence over near-dup), and an unrelated doc (accepted);
    batch 2 carries an original and its edited copy in the SAME
    batch (within-batch first-occurrence-wins). Every near-dup lands
    on the one error channel as ``NearDuplicateRecord`` with a
    ``near_duplicate`` reason in the message."""
    from maston_spark.streaming.topology import curation_topology

    records = [
        (0, _doc(0, T_A)),    # accepted
        (1, _doc(1, T_A2)),   # near-dup of doc 0 (cross-batch)
        (1, _doc(2, T_H2)),   # near-dup of the ref corpus doc
        (1, _doc(3, T_A)),    # EXACT dup of doc 0 — exact wins
        (1, _doc(4, T_B)),    # unrelated: accepted
        (2, _doc(5, T_C)),    # accepted (first occurrence)
        (2, _doc(6, T_C2)),   # near-dup of doc 5 (within-batch)
    ]
    src_df = spark.createDataFrame(
        [Row(value=v, __replay_batch=b) for b, v in records]
    )
    stream, src = replay_stream(src_df, batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    ref = spark.createDataFrame([(100, T_H)], DOC_SCHEMA)
    sunk: dict[str, list] = {"valid": [], "error": []}
    metrics: list = []

    q = curation_topology(
        stream,
        DOC_SCHEMA,
        ref,
        app_id="t-curation-neardup",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        gate_kwargs=GATE,
        on_metrics=lambda bid, c: metrics.append((bid, c)),
        **NEARDUP_KW,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert sorted(r.ok.doc_id for r in sunk["valid"]) == [0, 4, 5]
    errs = {r.ok.doc_id: r for r in sunk["error"]}
    assert set(errs) == {1, 2, 3, 6}
    k_exc = "maston.error.exception.class"
    k_msg = "maston.error.exception.message"
    assert _hdr(errs[1], k_exc) == "NearDuplicateRecord"
    assert _hdr(errs[2], k_exc) == "NearDuplicateRecord"
    assert _hdr(errs[3], k_exc) == "DuplicateRecord"
    assert _hdr(errs[6], k_exc) == "NearDuplicateRecord"
    for d in (1, 2, 6):
        assert "near_duplicate" in _hdr(errs[d], k_msg)
        assert len(errs[d].headers) == 11
    assert sum(c.get("near_duplicate", 0) for _, c in metrics) == 3
    assert sum(c.get("duplicate", 0) for _, c in metrics) == 1


def test_curation_topology_neardup_state_survives_restart(spark, cleanup):
    """Stop the stream after batch 0, start a NEW query on the same
    checkpoint: a one-word-edited copy of the batch-0-accepted doc
    arriving after the restart is still rejected as a near-dup — the
    band-bucket + signature state is replayed from the versioned
    parquet state table, not just topology memory (the state is a
    SET under union, so the replay is idempotent)."""
    from maston_spark.streaming.topology import curation_topology

    chk = _tmp()
    src = tempfile.mkdtemp(prefix="replay_src_")
    cleanup.extend([src, chk])
    ref = spark.createDataFrame([(100, T_H)], DOC_SCHEMA)
    sunk: dict[str, list] = {"valid": [], "error": []}

    def start():
        stream = (
            spark.readStream.schema("value string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/b*")
        )
        return curation_topology(
            stream,
            DOC_SCHEMA,
            ref,
            app_id="t-curation-neardup-restart",
            checkpoint=chk,
            write_valid=lambda df: sunk["valid"].extend(df.collect()),
            write_error=lambda df: sunk["error"].extend(df.collect()),
            gate_kwargs=GATE,
            **NEARDUP_KW,
        )

    spark.createDataFrame([Row(value=_doc(0, T_A))]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [r.ok.doc_id for r in sunk["valid"]] == [0]

    spark.createDataFrame([Row(value=_doc(9, T_A2))]).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src + "/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r.ok.doc_id for r in sunk["valid"]) == [0]
    assert [r.ok.doc_id for r in sunk["error"]] == [9]
    assert (
        _hdr(sunk["error"][0], "maston.error.exception.class")
        == "NearDuplicateRecord"
    )


def test_quantile_metrics_topology_golden(spark, cleanup):
    """Streaming quantile monitoring over 3 micro-batches: running
    per-group estimates at every batch, and — the bottom-k union
    set identity — the final streamed estimate is bit-identical to
    one-shot sketching the whole history."""
    from maston_spark.sketches import (
        quantile_sample_estimate,
        quantile_sample_sketch,
    )
    from maston_spark.streaming.topology import quantile_metrics_topology

    rows = [
        Row(g="a" if i % 2 else "b", key=f"k{i}",
            v=float((i * 37) % 100), __replay_batch=i % 3)
        for i in range(300)
    ]
    src_df = spark.createDataFrame(rows)
    stream, src = replay_stream(src_df, batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []
    qs = [0.5, 0.9]

    q = quantile_metrics_topology(
        stream,
        group_col="g",
        key_col="key",
        value_col="v",
        k=32,
        qs=qs,
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {(r.g, r.qq): r.est_q for r in df.collect()})
        ),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    # every batch emitted estimates for both groups and both qs
    for _, m in seen:
        assert set(m) == {("a", 0.5), ("a", 0.9), ("b", 0.5), ("b", 0.9)}
    # set identity: final streamed == one-shot over the whole history
    from pyspark.sql import functions as F  # noqa: PLC0415

    oneshot_sk = quantile_sample_sketch(src_df, "g", F.col("key"), "v", 32)
    oneshot = {
        (r.g, r.qq): r.est_q
        for r in quantile_sample_estimate(oneshot_sk, "g", qs).collect()
    }
    assert seen[-1][1] == oneshot


def test_quantile_metrics_topology_state_survives_restart(spark, cleanup):
    """Stop after batch 0, start a NEW query on the same checkpoint:
    the post-restart estimate reflects batch-0 history (replayed from
    the versioned sketch state), bit-identical to one-shot sketching
    both batches together."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from maston_spark.sketches import (
        quantile_sample_estimate,
        quantile_sample_sketch,
    )
    from maston_spark.streaming.topology import quantile_metrics_topology

    chk = _tmp()
    src = tempfile.mkdtemp(prefix="replay_src_")
    cleanup.extend([src, chk])
    seen: list = []

    def start():
        stream = (
            spark.readStream.schema("g string, key string, v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/b*")
        )
        return quantile_metrics_topology(
            stream,
            group_col="g",
            key_col="key",
            value_col="v",
            k=16,
            qs=[0.5],
            checkpoint=chk,
            write_metrics=lambda df, bid: seen.append(
                {(r.g, r.qq): r.est_q for r in df.collect()}
            ),
        )

    b0 = [Row(g="a", key=f"k{i}", v=float(i)) for i in range(40)]
    b1 = [Row(g="a", key=f"m{i}", v=float(100 + i)) for i in range(40)]
    spark.createDataFrame(b0).coalesce(1).write.mode("overwrite").parquet(src + "/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    spark.createDataFrame(b1).coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    both = spark.createDataFrame(b0 + b1)
    oneshot_sk = quantile_sample_sketch(both, "g", F.col("key"), "v", 16)
    oneshot = {
        (r.g, r.qq): r.est_q
        for r in quantile_sample_estimate(oneshot_sk, "g", [0.5]).collect()
    }
    assert seen[-1] == oneshot
    # and the restarted estimate actually SEES batch-0 values (the
    # median of the union can't be a pure-b1 median if state replayed)
    assert seen[-1][("a", 0.5)] < 100.0


def test_drift_monitor_topology_golden(spark, cleanup):
    """Streaming drift monitor over 2 batches: batch 0 draws from
    the reference distribution (TVD small, no alert), batch 1 shifts
    the mass into the top bins and the RUNNING TVD crosses the
    threshold — with the emitted statistic equal to the brute-force
    half-L1 between the cumulative stream histogram and the
    reference, on reference-decile bins."""
    from maston_spark.streaming.topology import drift_monitor_topology

    # reference: uniform over 0..99 (deciles at 9.9, 19.8, ...)
    ref = spark.createDataFrame([(float(i % 100),) for i in range(500)], "v double")
    # batch 0: same uniform shape; batch 1: everything >= 90
    rows = [Row(v=float(i % 100), __replay_batch=0) for i in range(200)]
    rows += [Row(v=float(90 + i % 10), __replay_batch=1) for i in range(400)]
    src_df = spark.createDataFrame(rows)
    stream, src = replay_stream(src_df, batches=2)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = drift_monitor_topology(
        stream,
        ref,
        value_col="v",
        n_bins=10,
        threshold=0.3,
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append((bid, df.collect()[0])),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) == 2
    b0, b1 = seen[0][1], seen[1][1]
    assert b0.n_stream == 200 and b0.n_ref == 500
    assert not b0.drifted and b0.tvd < 0.05
    # running: 200 uniform + 400 top-decile rows; brute force:
    # per-bin stream counts 20 each + 400 extra in the last bin
    n_i = [20] * 9 + [420]
    m_i = [50] * 10
    num = sum(abs(n * 500 - m * 600) for n, m in zip(n_i, m_i))
    expect = num / (2.0 * 600 * 500)
    assert b1.n_stream == 600
    assert abs(b1.tvd - expect) < 1e-12
    assert b1.drifted


def test_drift_monitor_topology_state_survives_restart(spark, cleanup):
    """Stop after batch 0, restart on the same checkpoint: the
    running histogram resumes from versioned state, so the
    post-restart TVD reflects BOTH batches, not just the new one."""
    from maston_spark.streaming.topology import drift_monitor_topology

    ref = spark.createDataFrame([(float(i % 100),) for i in range(500)], "v double")
    chk = _tmp()
    src = tempfile.mkdtemp(prefix="replay_src_")
    cleanup.extend([src, chk])
    seen: list = []

    def start():
        stream = (
            spark.readStream.schema("v double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/b*")
        )
        return drift_monitor_topology(
            stream,
            ref,
            value_col="v",
            n_bins=10,
            threshold=0.3,
            checkpoint=chk,
            write_metrics=lambda df, bid: seen.append(df.collect()[0]),
        )

    spark.createDataFrame(
        [Row(v=float(i % 100)) for i in range(200)]
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b0")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen[-1].n_stream == 200 and not seen[-1].drifted

    spark.createDataFrame(
        [Row(v=float(90 + i % 10)) for i in range(400)]
    ).coalesce(1).write.mode("overwrite").parquet(src + "/b1")
    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert seen[-1].n_stream == 600, "state must carry batch-0 counts"
    assert seen[-1].drifted


def test_curation_neardup_cross_rejected_doc_does_not_suppress(spark, cleanup):
    """A doc rejected against cross-batch state never enters state —
    so it must not suppress its batch-mates either. One batch carries
    X (near-dup of the REF corpus doc → rejected) and Y (similar ONLY
    to X: 13/16 agreement with X, zero shared band buckets with the
    ref doc — measured against the md5/LCG minhash math). Y must be
    ACCEPTED; the pre-fix behavior dropped Y with no accepted
    near-copy of its content anywhere."""
    from maston_spark.streaming.topology import curation_topology

    t_x = T_H.replace("twelve", "forty")          # = T_H2, rejected vs ref
    t_y = t_x.replace("document", "xxxx", 1)      # ~X only, not ~H
    records = [(0, _doc(1, t_x)), (0, _doc(2, t_y))]
    src_df = spark.createDataFrame(
        [Row(value=v, __replay_batch=b) for b, v in records]
    )
    stream, src = replay_stream(src_df, batches=1)
    chk = _tmp()
    cleanup.extend([src, chk])
    ref = spark.createDataFrame([(100, T_H)], DOC_SCHEMA)
    sunk: dict[str, list] = {"valid": [], "error": []}

    q = curation_topology(
        stream,
        DOC_SCHEMA,
        ref,
        app_id="t-curation-neardup-nochain",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        gate_kwargs=GATE,
        **NEARDUP_KW,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert [r.ok.doc_id for r in sunk["valid"]] == [2]
    assert [r.ok.doc_id for r in sunk["error"]] == [1]
    assert (
        _hdr(sunk["error"][0], "maston.error.exception.class")
        == "NearDuplicateRecord"
    )


# ------------------- curation state: segments, compaction, retention


def _live_segments(spark, chk):
    from maston_spark.streaming.topology import _curation_segments

    return _curation_segments(spark, chk + "/curation_state")


def test_curation_state_write_is_o_batch_and_compacts(spark, cleanup):
    """The round-11 state layout: each batch writes ONE delta segment
    holding only its own accepted rows — O(batch), not O(history) —
    and compaction folds prior segments into a single run so the
    per-batch read stays bounded in file count. Cross-batch dedup
    still holds THROUGH a compaction: a batch-5 copy of a batch-0 doc
    is rejected even though batch 0's delta no longer exists."""
    from maston_spark.streaming.topology import curation_topology

    texts = {}
    records = []
    words = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu nu xi omicron pi rho sigma tau upsilon").split()
    did = 0
    for b in range(6):
        for j in range(3):
            if b == 5 and j == 2:
                continue  # slot reserved for the duplicate below
            t = (f"document {words[did % 20]} number {did} carries enough "
                 f"distinct tokens to pass the permissive gate settings")
            texts[did] = t
            records.append((b, _doc(did, t)))
            did += 1
    records.append((5, _doc(99, texts[0])))  # exact copy of batch-0 doc
    src_df = spark.createDataFrame(
        [Row(value=v, __replay_batch=b) for b, v in records]
    )
    stream, src = replay_stream(src_df, batches=6)
    chk = _tmp()
    cleanup.extend([src, chk])
    ref = spark.createDataFrame([], DOC_SCHEMA)
    sunk: dict[str, list] = {"valid": [], "error": []}

    q = curation_topology(
        stream,
        DOC_SCHEMA,
        ref,
        app_id="t-curation-segments",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        gate_kwargs=GATE,
        compact_every=3,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert sorted(r.ok.doc_id for r in sunk["valid"]) == sorted(texts)
    assert [r.ok.doc_id for r in sunk["error"]] == [99]
    assert (
        _hdr(sunk["error"][0], "maston.error.exception.class")
        == "DuplicateRecord"
    )
    segs = _live_segments(spark, chk)
    sdir = chk + "/curation_state"
    # compaction ran: fewer live segments than batches, and at least
    # one compacted run exists
    assert len(segs) < 6
    assert any(k == "c" for k, _ in segs)
    # O(batch): every surviving DELTA holds only its own batch's rows
    for kind, sid in segs:
        n = spark.read.parquet(f"{sdir}/{kind}{sid}").count()
        if kind == "d":
            assert n <= 3, (kind, sid, n)
    # the union of live segments is the full accepted set, exactly once
    from maston_spark.streaming.topology import _read_curation_state

    st = _read_curation_state(spark, sdir, 10**9, None)
    assert st.count() == len(texts)


def test_curation_state_retention_ages_out_old_content(spark, cleanup):
    """state_retention_batches=R: batch B probes only rows accepted in
    the last R batches. A copy of a doc accepted > R batches ago is
    RE-ACCEPTED (the documented recall tradeoff of bounding state);
    a copy of a recent doc is still rejected."""
    from maston_spark.streaming.topology import curation_topology

    t_old = ("the oldest document in the stream speaks about ancient "
             "harbors and long forgotten trade routes across the sea")
    t_fill1 = ("a first filler document concerning gardens and the slow "
               "growth of fruit trees during mild and rainy seasons")
    t_fill2 = ("a second filler document describing mountain weather "
               "patterns and the yearly return of migratory birds")
    records = [
        (0, _doc(0, t_old)),
        (1, _doc(1, t_fill1)),
        (2, _doc(2, t_fill2)),
        (3, _doc(30, t_old)),    # aged out (b=0 < 3-2+1): re-accepted
        (3, _doc(31, t_fill2)),  # recent (b=2 >= 1): still rejected
    ]
    src_df = spark.createDataFrame(
        [Row(value=v, __replay_batch=b) for b, v in records]
    )
    stream, src = replay_stream(src_df, batches=4)
    chk = _tmp()
    cleanup.extend([src, chk])
    ref = spark.createDataFrame([], DOC_SCHEMA)
    sunk: dict[str, list] = {"valid": [], "error": []}

    q = curation_topology(
        stream,
        DOC_SCHEMA,
        ref,
        app_id="t-curation-retention",
        checkpoint=chk,
        write_valid=lambda df: sunk["valid"].extend(df.collect()),
        write_error=lambda df: sunk["error"].extend(df.collect()),
        gate_kwargs=GATE,
        state_retention_batches=2,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert sorted(r.ok.doc_id for r in sunk["valid"]) == [0, 1, 2, 30]
    assert [r.ok.doc_id for r in sunk["error"]] == [31]


def test_read_curation_state_legacy_v_snapshot(spark, cleanup):
    """Pre-segment state (full v<N> snapshots without the per-row
    batch-id column) stays readable: rows get b=N synthesized, the
    strictly-prior filter applies, and the set-union dedup holds when
    a legacy snapshot and a delta carry the same hash."""
    import tempfile

    from maston_spark.streaming.topology import _read_curation_state

    sdir = tempfile.mkdtemp(prefix="curation_state_legacy_")
    cleanup.append(sdir)
    legacy = spark.createDataFrame(
        [("h1", [1, 2]), ("h2", [3, 4])], "__h string, positions array<int>"
    )
    legacy.write.mode("overwrite").parquet(f"{sdir}/v0")
    delta = spark.createDataFrame(
        [("h2", [3, 4], 1), ("h3", [5, 6], 1)],
        "__h string, positions array<int>, b long",
    )
    delta.write.mode("overwrite").parquet(f"{sdir}/d1")

    st = _read_curation_state(spark, sdir, 2, None)
    assert sorted(r["__h"] for r in st.collect()) == ["h1", "h2", "h3"]
    # strictly-prior: a retry of batch 1 must not see d1's rows
    st0 = _read_curation_state(spark, sdir, 1, None)
    assert sorted(r["__h"] for r in st0.collect()) == ["h1", "h2"]
    # retention window: upto=2 R=1 keeps only b >= 1
    st1 = _read_curation_state(spark, sdir, 2, 1)
    assert sorted(r["__h"] for r in st1.collect()) == ["h2", "h3"]


def test_hll_rolling_topology_golden_and_restart(spark, cleanup):
    """Streaming rolling-HLL over 3 micro-batches: every emitted
    estimate equals the ORACLE-GRADED batch twin's one-shot answer
    over the data so far (register MAX merge is a set identity), and
    a cold restart from the durable state resumes without regressing.
    Retention ages old days out of state."""
    import datetime as dt

    from maston_spark.sketches import hll_rolling_distinct
    from maston_spark.streaming.topology import hll_rolling_topology

    rows = []
    for b in range(3):
        for d in range(1 + b * 2, 3 + b * 2):  # days advance per batch
            for u in range(d * 50, d * 50 + 20):
                rows.append(
                    Row(
                        ts=dt.datetime(2024, 5, d, 12, 0, 0),
                        uid=u,
                        __replay_batch=b,
                    )
                )
    src_df = spark.createDataFrame(rows)
    stream, src = replay_stream(src_df, batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = hll_rolling_topology(
        stream,
        ts_col="ts",
        value_col="uid",
        window_days=3,
        p=8,
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {str(r.day): r.n_distinct_est_raw for r in df.collect()})
        ),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    # golden: final emit == batch twin one-shot over the whole history
    oneshot = {
        str(r.day): r.n_distinct_est_raw
        for r in hll_rolling_distinct(
            src_df.select("ts", "uid"), "ts", "uid", window_days=3, p=8
        ).collect()
    }
    assert dict(seen)[2] == oneshot
    # and every intermediate emit equals the twin over its prefix
    prefix = src_df.filter(F.col("__replay_batch") <= 0).select("ts", "uid")
    first = {
        str(r.day): r.n_distinct_est_raw
        for r in hll_rolling_distinct(prefix, "ts", "uid", 3, 8).collect()
    }
    assert dict(seen)[0] == first

    # restart from durable state: a fresh query over one more batch
    more = spark.createDataFrame(
        [
            Row(ts=dt.datetime(2024, 5, 8, 9, 0, 0), uid=u, __replay_batch=0)
            for u in range(900, 930)
        ]
    )
    stream2, src2 = replay_stream(more, batches=1)
    cleanup.append(src2)
    seen2: list = []
    q2 = hll_rolling_topology(
        stream2,
        ts_col="ts",
        value_col="uid",
        window_days=3,
        p=8,
        checkpoint=chk,
        write_metrics=lambda df, bid: seen2.append(
            {str(r.day): r.n_distinct_est_raw for r in df.collect()}
        ),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    both = src_df.select("ts", "uid").unionByName(more.select("ts", "uid"))
    oneshot2 = {
        str(r.day): r.n_distinct_est_raw
        for r in hll_rolling_distinct(both, "ts", "uid", 3, 8).collect()
    }
    assert seen2[-1] == oneshot2

    # retention: with retention_days=2, state drops days older than
    # newest-1 and the emit only covers retained days
    chk3 = _tmp()
    cleanup.append(chk3)
    stream3, src3 = replay_stream(src_df, batches=3)
    cleanup.append(src3)
    seen3: list = []
    q3 = hll_rolling_topology(
        stream3,
        ts_col="ts",
        value_col="uid",
        window_days=3,
        p=8,
        checkpoint=chk3,
        retention_days=2,
        write_metrics=lambda df, bid: seen3.append(
            {str(r.day): r.n_distinct_est_raw for r in df.collect()}
        ),
    )
    try:
        q3.processAllAvailable()
    finally:
        q3.stop()
    assert set(seen3[-1]) == {"2024-05-05", "2024-05-06"}


def test_srm_monitor_topology_golden_and_retry(spark, cleanup):
    """Streaming SRM monitor over 3 batches: per-arm counts fold
    additively, the running chi2 equals the batch operator over the
    same prefix at every batch (shared closing math), the alarm
    fires once the planted imbalance accumulates, and re-running the
    closing math from the durable state (the retry corner's source
    of truth) reproduces the final emit."""
    from maston_spark.evaluation import srm_check, srm_from_counts
    from maston_spark.streaming.topology import srm_monitor_topology

    per_batch = [
        ["0"] * 30 + ["1"] * 30,   # balanced so far
        ["0"] * 40 + ["1"] * 10,   # drifting
        ["0"] * 50 + ["1"] * 5,    # clearly broken
    ]
    rows = [
        Row(variant=v, __replay_batch=b)
        for b, vs in enumerate(per_batch)
        for v in vs
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = srm_monitor_topology(
        stream,
        variant_col="variant",
        expected={"0": 0.5, "1": 0.5},
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {r.variant: r for r in df.collect()})
        ),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    by_batch = dict(seen)
    # running chi2 == the batch operator over the concatenated prefix
    prefix: list[str] = []
    for b in range(3):
        prefix += per_batch[b]
        expect = {
            r.variant: r
            for r in srm_check(
                spark.createDataFrame([(v,) for v in prefix], "variant string"),
                "variant",
                {"0": 0.5, "1": 0.5},
            ).collect()
        }
        got = by_batch[b]
        for arm in ("0", "1"):
            assert got[arm].n_obs == expect[arm].n_obs, (b, arm)
            assert got[arm].chi2 == expect[arm].chi2, (b, arm)
    assert not by_batch[0]["0"].srm_detected
    assert by_batch[2]["0"].srm_detected  # 120 vs 45 -> chi2 ~ 34
    # durable state replay: the stored final version IS the counts
    state = spark.read.parquet(f"{chk}/srm_state/v2")
    replay = {
        r.variant: r
        for r in srm_from_counts(state, {"0": 0.5, "1": 0.5}).collect()
    }
    for arm in ("0", "1"):
        assert replay[arm].chi2 == by_batch[2][arm].chi2


def test_cusum_monitor_topology_golden_and_prefix_identity(spark, cleanup):
    """Streaming CUSUM monitor over 3 batches: bucket counts fold
    additively (a late event added to an OLD bucket self-corrects
    the statistic), the running changepoint equals the batch
    operator over the same prefix at every batch (shared closing
    math), and the planted level shift is located at its true hour
    once it arrives."""
    from maston_spark.relational import cusum_changepoint, cusum_from_counts
    from maston_spark.streaming.topology import cusum_monitor_topology

    def ev(day_hour, n):
        return [datetime(2024, 5, 5, day_hour, 7)] * n

    # steady 10/hour for hours 0-3, then a shift to 40/hour at hour 4+
    per_batch = [
        ev(0, 10) + ev(1, 10),
        ev(2, 10) + ev(3, 10) + ev(4, 40),
        ev(5, 40) + ev(1, 2),  # 2 LATE events into hour 1's old bucket
    ]
    rows = [
        Row(g="ingest", ts=t, __replay_batch=b)
        for b, ts_list in enumerate(per_batch)
        for t in ts_list
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = cusum_monitor_topology(
        stream,
        group_col="g",
        ts_col="ts",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {r.group: r for r in df.collect()})
        ),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    by_batch = dict(seen)
    prefix: list = []
    for b in range(3):
        prefix += per_batch[b]
        expect = cusum_changepoint(
            spark.createDataFrame([("ingest", t) for t in prefix], "g string, ts timestamp"),
            "g",
            "ts",
            unit="hour",
        ).collect()[0]
        got = by_batch[b]["ingest"]
        assert got.n_buckets == expect.n_buckets, b
        assert got.total_events == expect.total_events, b
        assert got.cusum_scaled == expect.cusum_scaled, b
        assert str(got.changepoint_ts) == str(expect.changepoint_ts), b
    # the level shift (hour 4) pins the changepoint at the pre-shift
    # boundary: CUSUM |S_i| peaks at hour 3 (the last steady bucket)
    assert str(by_batch[2]["ingest"].changepoint_ts).startswith("2024-05-05 03")
    # durable state replay reproduces the final emit
    state = spark.read.parquet(f"{chk}/cusum_state/v2")
    [replay] = cusum_from_counts(state, "group").collect()
    assert replay.cusum_scaled == by_batch[2]["ingest"].cusum_scaled


def test_vocab_saturation_topology_golden_and_restart(spark, cleanup):
    """Streaming vocabulary-saturation monitor over 3 batches: the
    per-(group, token) counts fold additively, so every emitted
    Good-Turing/Chao1 row equals the shared closing math over the
    data so far — INCLUDING the singleton→doubleton transitions a
    naive fof fold would double-count (the token seen once in batch
    0 and once more in batch 2 must become ONE doubleton). A cold
    restart from the durable state resumes without regressing, and
    replaying the stored state reproduces the final emit."""
    from maston_spark.llm.text import vocab_richness_from_counts
    from maston_spark.streaming.topology import vocab_saturation_topology

    per_batch = [
        # batch 0: 'rare' is a web singleton, 'the' repeats
        [("web", "the cat sat on the mat rare"), ("books", "alpha beta beta")],
        # batch 1: new web doc; 'gamma' first appearance for books
        [("web", "a dog sat"), ("books", "gamma alpha")],
        # batch 2: 'rare' appears ONCE MORE -> web doubleton now;
        # empty-token noise (double space) must drop
        [("web", "rare  bird"), ("books", "delta")],
    ]
    rows = [
        Row(src=g, text=t, __replay_batch=b)
        for b, docs in enumerate(per_batch)
        for g, t in docs
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = vocab_saturation_topology(
        stream,
        group_col="src",
        text_col="text",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {r.group: tuple(r) for r in df.collect()})
        ),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    by_batch = dict(seen)

    def oneshot(docs):
        df = spark.createDataFrame(docs, "group string, text string")
        counts = (
            df.select(
                "group", F.explode(F.split("text", " ")).alias("__tok")
            )
            .filter((F.col("__tok") != "") & F.col("__tok").isNotNull())
            .groupBy("group", "__tok")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        return {
            r.group: tuple(r)
            for r in vocab_richness_from_counts(counts, "group").collect()
        }

    prefix: list = []
    for b in range(3):
        prefix += per_batch[b]
        assert by_batch[b] == oneshot(prefix), b
    # the non-additive-fof trap, explicitly: 'rare' (once in batch 0,
    # once in batch 2) is exactly one web DOUBLETON at the end
    final_web = by_batch[2]["web"]
    assert final_web[4] >= 1  # n_doubletons includes 'rare'
    w0 = by_batch[0]["web"]
    assert w0[3] >= 2  # 'rare' and others start as singletons

    # restart: a fresh query on the same checkpoint folds on top of
    # the durable state
    more = [("web", "rare again"), ("books", "alpha")]
    stream2, src2 = replay_stream(
        spark.createDataFrame(
            [Row(src=g, text=t, __replay_batch=0) for g, t in more]
        ),
        batches=1,
    )
    cleanup.append(src2)
    seen2: list = []
    q2 = vocab_saturation_topology(
        stream2,
        group_col="src",
        text_col="text",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen2.append(
            {r.group: tuple(r) for r in df.collect()}
        ),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert seen2[-1] == oneshot(prefix + more)

    # durable state replay reproduces the final emit — read the
    # segmented layout through the coverage rule (newest run + the
    # deltas above it)
    state = _read_vocab_state(spark, f"{chk}/vocab_state")
    got = {
        r.group: tuple(r)
        for r in vocab_richness_from_counts(state, "group").collect()
    }
    assert got == seen2[-1]


def _read_vocab_state(spark, sdir):
    """Reconstruct the vocab topology's durable counts via its
    coverage read rule: newest run (c/v) + every delta above it."""
    import glob as _glob
    import os as _os
    from functools import reduce

    segs = []
    for p in _glob.glob(f"{sdir}/*"):
        name = _os.path.basename(p)
        if name[:1] in ("v", "d", "c") and name[1:].isdigit():
            segs.append((name[:1], int(name[1:])))
    runs = [s for s in segs if s[0] in ("c", "v")]
    run = max(runs, key=lambda s: s[1], default=None)
    floor = run[1] if run else -1
    live = ([run] if run else []) + sorted(
        s for s in segs if s[0] == "d" and s[1] > floor
    )
    frames = [spark.read.parquet(f"{sdir}/{k}{i}") for k, i in live]
    return (
        reduce(lambda a, b: a.unionByName(b), frames)
        .groupBy("group", "__tok")
        .agg(F.sum("__c").cast("long").alias("__c"))
    )


def test_vocab_saturation_state_is_segmented_o_batch(spark, cleanup):
    """The round-14 scale-killer fix: each micro-batch appends ONE
    O(batch) count delta (d<N> holds only the batch's tokens, not the
    full |vocab|), compaction folds segments into a run whose counts
    stay exact THROUGH the crash window (coverage rule, not row
    dedup), and the q283-shared closing math over the reconstructed
    state equals the one-shot batch computation."""
    import glob as _glob
    import os as _os

    from maston_spark.llm.text import vocab_richness_from_counts
    from maston_spark.streaming.topology import vocab_saturation_topology

    # batch k introduces ONE new token and repeats the base token:
    # a full-state rewrite would write k+2 rows at batch k; an
    # O(batch) delta writes exactly 2
    per_batch = [[("web", f"base tok{b}")] for b in range(6)]
    rows = [
        Row(src=g, text=t, __replay_batch=b)
        for b, docs in enumerate(per_batch)
        for g, t in docs
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=6)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []
    q = vocab_saturation_topology(
        stream,
        group_col="src",
        text_col="text",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {r.group: tuple(r) for r in df.collect()})
        ),
        compact_every=4,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    sdir = f"{chk}/vocab_state"
    segs = sorted(
        (_os.path.basename(p)[:1], int(_os.path.basename(p)[1:]))
        for p in _glob.glob(f"{sdir}/*")
        if _os.path.basename(p)[:1] in ("v", "d", "c")
        and _os.path.basename(p)[1:].isdigit()
    )
    kinds = {k for k, _ in segs}
    assert "v" not in kinds  # no legacy full-snapshot rewrites
    assert "c" in kinds  # compaction ran (compact_every=4, 6 batches)
    # O(batch) deltas: every live delta holds exactly its batch's
    # (group, token) rows — 2 per batch here, never |vocab|
    for k, i in segs:
        n = spark.read.parquet(f"{sdir}/{k}{i}").count()
        if k == "d":
            assert n == 2, (k, i, n)
        else:
            assert n == i + 2, (k, i, n)  # run = full state through i
    # consumed segments left disk: strictly fewer live than batches
    assert len(segs) < 6
    # dedup-through-compaction: reconstructed state == one-shot math
    state = _read_vocab_state(spark, sdir)
    got = {
        r.group: tuple(r)
        for r in vocab_richness_from_counts(state, "group").collect()
    }
    flat = [(g, t) for docs in per_batch for g, t in docs]
    df = spark.createDataFrame(flat, "group string, text string")
    counts = (
        df.select("group", F.explode(F.split("text", " ")).alias("__tok"))
        .filter((F.col("__tok") != "") & F.col("__tok").isNotNull())
        .groupBy("group", "__tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    want = {
        r.group: tuple(r)
        for r in vocab_richness_from_counts(counts, "group").collect()
    }
    assert got == want
    assert dict(seen)[5] == want  # final emit saw the whole prefix
    # crash window: a leftover ALREADY-CONSUMED delta under the newest
    # run must not change the reconstruction (coverage, not dedup) —
    # simulate by re-writing d0 beneath the compacted run
    b0 = spark.createDataFrame(
        [("web", "base", 1), ("web", "tok0", 1)], "group string, __tok string, __c long"
    )
    b0.write.mode("overwrite").parquet(f"{sdir}/d0")
    again = {
        r.group: tuple(r)
        for r in vocab_richness_from_counts(
            _read_vocab_state(spark, sdir), "group"
        ).collect()
    }
    assert again == want


def test_privacy_gate_topology_golden_and_restart(spark, cleanup):
    """Streaming privacy gate over 3 batches: cell counts fold
    additively, every emitted k-anonymity/l-diversity row equals the
    shared closing math over the data so far — including the
    k=1→k=2 healing and the l growth that make class-level
    summaries non-additive — and a cold restart resumes from the
    durable state."""
    from maston_spark.profiling import k_anonymity_from_counts
    from maston_spark.streaming.topology import privacy_gate_topology

    per_batch = [
        # batch 0: class (a,1) has 2 rows 1 sv; class (b,1) UNIQUE
        [("a", 1, 100), ("a", 1, 100), ("b", 1, 200)],
        # batch 1: (b,1) heals to k=2; (a,1) gains a 2nd sv (l=2)
        [("b", 1, 250), ("a", 1, 150)],
        # batch 2: a brand-new unique class appears -> k_min back to 1
        [("c", 9, 300)],
    ]
    rows = [
        Row(q1=q, q2=n, sv=s, __replay_batch=b)
        for b, batch in enumerate(per_batch)
        for q, n, s in batch
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = privacy_gate_topology(
        stream,
        qi_cols=["q1", "q2"],
        sensitive_col="sv",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append((bid, tuple(df.collect()[0]))),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    by_batch = dict(seen)

    def oneshot(batches):
        flat = [r for b in batches for r in b]
        df = spark.createDataFrame(flat, "q1 string, q2 int, __sv long")
        cells = df.groupBy("q1", "q2", "__sv").agg(
            F.count(F.lit(1)).cast("long").alias("__n")
        )
        return tuple(k_anonymity_from_counts(cells, ["q1", "q2"]).collect()[0])

    for b in range(3):
        assert by_batch[b] == oneshot(per_batch[: b + 1]), b
    # the non-additive transitions, explicitly: batch 0 has a unique
    # class (k_min 1); batch 1 heals it (k_min 2, and class (a,1)
    # reaches l=2); batch 2's new singleton drops k_min back to 1
    assert by_batch[0][2] == 1 and by_batch[1][2] == 2 and by_batch[2][2] == 1

    # restart on the same checkpoint folds on top of durable state
    more = [("c", 9, 300)]  # heals the batch-2 singleton
    stream2, src2 = replay_stream(
        spark.createDataFrame(
            [Row(q1=q, q2=n, sv=s, __replay_batch=0) for q, n, s in more]
        ),
        batches=1,
    )
    cleanup.append(src2)
    seen2: list = []
    q2 = privacy_gate_topology(
        stream2,
        qi_cols=["q1", "q2"],
        sensitive_col="sv",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen2.append(tuple(df.collect()[0])),
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert seen2[-1] == oneshot(per_batch + [more])
    assert seen2[-1][2] == 2  # every class k >= 2 after the heal


def test_contamination_gate_topology_golden_and_restart(spark, cleanup):
    """Streaming contamination gate over 3 batches: per-source
    counters fold additively, every emitted row equals the shared
    closing math over everything ingested so far (probing a STATIC
    benchmark gram table), and a cold restart resumes from the
    durable counters without regressing. Includes the fold trap:
    per-doc FRACTIONS don't fold — batch 1's clean doc must dilute
    batch 0's contaminated one in the running doc_rate."""
    from maston_spark.llm.text import (
        contamination_counts,
        contamination_from_counts,
        tokens as _toks,
    )
    from maston_spark.streaming.topology import contamination_gate_topology

    bench = spark.createDataFrame(
        [(100, "the secret eval answer is blue")], "doc_id long, text string"
    )
    bench_grams = (
        bench.select(_toks(F.col("text")).alias("__toks"))
        .select(
            F.expr(
                "explode(transform(sequence(0, size(__toks) - 3), "
                "i -> concat_ws(' ', slice(__toks, i + 1, 3))))"
            ).alias("__gram")
        )
        .distinct()
    )
    per_batch = [
        # batch 0: web doc quotes the eval verbatim -> contaminated
        [("web", 1, "the secret eval answer is blue today"),
         ("books", 2, "alpha beta gamma delta")],
        # batch 1: clean web doc dilutes the running doc_rate
        [("web", 3, "totally original prose here")],
        # batch 2: partial overlap (one shared trigram)
        [("books", 4, "eval answer is what they asked")],
    ]
    rows = [
        Row(src=s, doc_id=i, text=t, __replay_batch=b)
        for b, docs in enumerate(per_batch)
        for s, i, t in docs
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []
    q = contamination_gate_topology(
        stream,
        bench,
        group_col="src",
        id_col="doc_id",
        text_col="text",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append(
            (bid, {r.group: tuple(r) for r in df.collect()})
        ),
        n=3,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(seen) >= 3
    by_batch = dict(seen)

    def oneshot(docs):
        df = spark.createDataFrame(
            [(s, i, t) for s, i, t in docs],
            "src string, doc_id long, text string",
        )
        c = contamination_counts(
            df, bench_grams, "src", id_col="doc_id", text_col="text", n=3
        )
        return {r.group: tuple(r) for r in contamination_from_counts(c).collect()}

    prefix: list = []
    for b in range(3):
        prefix += per_batch[b]
        assert by_batch[b] == oneshot(prefix), b
    # the fraction-fold trap, explicitly: web doc_rate halves when
    # the clean doc arrives (1/1 -> 1/2), which a fraction-state
    # fold would have averaged wrong
    assert by_batch[0]["web"][6] == 1.0
    assert by_batch[1]["web"][6] == 0.5

    # cold restart folds on the durable counters
    more = [("web", 9, "the secret eval answer is blue again")]
    stream2, src2 = replay_stream(
        spark.createDataFrame(
            [Row(src=s, doc_id=i, text=t, __replay_batch=0) for s, i, t in more]
        ),
        batches=1,
    )
    cleanup.append(src2)
    seen2: list = []
    q2 = contamination_gate_topology(
        stream2,
        bench,
        group_col="src",
        id_col="doc_id",
        text_col="text",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen2.append(
            {r.group: tuple(r) for r in df.collect()}
        ),
        n=3,
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert seen2[-1] == oneshot(prefix + more)


def test_ams_monitor_topology_fold_identity_and_retry(spark, cleanup):
    """ELEVENTH topology: the streaming join-size monitor's lane
    totals fold additively across 3 batches, the running estimate
    equals the BATCH ams_join_size over the same prefix at every
    batch (shared ams_join_from_totals close — zero error term on
    ±1 integer sums), a side that hasn't streamed yet closes as
    estimate 0, and the durable 2-row state replays the final
    emit."""
    from maston_spark.sketches import (
        ams_join_from_totals,
        ams_join_size,
    )
    from maston_spark.streaming.topology import ams_monitor_topology

    per_batch = [
        [("a", k) for k in range(20)],                      # a only
        [("b", k) for k in range(10, 30)],                  # b arrives
        [("a", k) for k in range(5, 15)]
        + [("b", k) for k in range(15, 25)],
    ]
    rows = [
        Row(side=s, key=str(k), __replay_batch=b)
        for b, items in enumerate(per_batch)
        for s, k in items
    ]
    stream, src = replay_stream(spark.createDataFrame(rows), batches=3)
    chk = _tmp()
    cleanup.extend([src, chk])
    seen: list = []

    q = ams_monitor_topology(
        stream,
        side_col="side",
        key_col="key",
        checkpoint=chk,
        write_metrics=lambda df, bid: seen.append((bid, df.collect()[0])),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(seen) >= 3
    by_batch = dict(seen)
    # batch 0: only side a has streamed -> estimate exactly 0
    assert by_batch[0].n_a == 20 and by_batch[0].n_b == 0
    assert by_batch[0].est_join_size == 0.0
    # every batch: running estimate == the batch operator over the
    # concatenated prefix (the fold identity)
    prefix: list = []
    for b in range(3):
        prefix += per_batch[b]
        a = spark.createDataFrame(
            [(k,) for s, k in prefix if s == "a"] or [(None,)], "k string"
        )
        bdf = spark.createDataFrame(
            [(k,) for s, k in prefix if s == "b"] or [(None,)], "k string"
        )
        expect = ams_join_size(a, "k", bdf, "k").collect()[0]
        got = by_batch[b]
        assert (got.n_a, got.n_b) == (expect.n_a, expect.n_b), b
        assert got.est_join_size == expect.est_join_size, b
    # durable state is the whole truth: closing it reproduces emit 2
    state = spark.read.parquet(f"{chk}/ams_state/v2")
    replay = ams_join_from_totals(state).collect()[0]
    assert replay.est_join_size == by_batch[2].est_join_size
