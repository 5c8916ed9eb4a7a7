"""The maston delta operator: keyed emit-iff-updated dedup.

Reference semantics (transformer/TransformerBuilder.java:116-162):
per recomputed business key, look up the last *accepted* record in a
persistent store; emit + store iff no previous record exists OR the
user predicate ``is_updated(old, new)`` returns true; otherwise
suppress. Golden behavior: the 6-record sequence in
topology/VavrKStreamWithDeltaTopologyTest.java:312-331 emits records
0, 2, 3 and 5.

Three implementations, fastest first:

1. ``delta_dedup_expr`` — batch, pure column algebra (lag window).
   Valid whenever the predicate is "any of these columns changed",
   because under an inequality predicate the last-accepted record
   always equals the last-seen record (suppression only happens on
   equality, so the accepted chain and the seen chain coincide).
   This is the 100 TB plan: one shuffle on the key, whole-stage
   codegen, no Python.
2. ``delta_dedup_fold`` — batch, arbitrary Python predicate. One
   exchange on the key into as many partitions as there are cores,
   a sort by (key, order), then ``mapInPandas`` folds each partition
   in one linear pass over its Arrow batches: key-run boundaries are
   found column-wise, and ``is_updated`` runs only on the second and
   later rows of a run. This is the reference implementation of the
   general semantics (and the oracle for the streaming path);
   ``delta_topology`` runs it on every micro-batch.
3. ``delta_dedup_stream`` — streaming, per-key state via
   ``applyInPandasWithState`` (GroupState holds the last accepted
   record, checkpointed; use the RocksDB state-store provider at
   scale).

The reference has a latent bug (TransformerBuilder.java:134-136
double-``get`` on the invalid path) that we deliberately do NOT
replicate: invalid-input exclusion is a typed precondition here —
callers branch first (see pipelines.py).
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, Window
from pyspark.sql.types import StructType

_MARK = "__delta_changed"


def delta_dedup_expr(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    changed_cols: Sequence[str],
) -> DataFrame:
    """Emit rows whose ``changed_cols`` differ from the previous
    accepted row of the same key (first row per key always emits).

    Null-safe comparison via ``eqNullSafe``. One hash shuffle on
    ``key_cols``; everything else is a window + filter inside
    codegen — the plan a 1000-executor cluster wants.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    changed = F.lit(False)
    for c in changed_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.row_number().over(w) == 1
    return df.withColumn(_MARK, first | changed).filter(F.col(_MARK)).drop(_MARK)


def _run_starts(pdf: pd.DataFrame, key_list: list[str], prev_key) -> np.ndarray:
    """``starts[i]`` is true where row ``i`` opens a new key run.

    Column-wise and null-safe: two nulls are the same key (Spark sorts
    a key's nulls together, and the fold treats null as one key).
    ``prev_key`` holds the key values of the row before ``pdf`` — the
    last row of the previous Arrow batch — or None at the partition
    start, where row 0 always opens a run.
    """
    n = len(pdf)
    same = np.ones(n, dtype=bool)
    same[0] = prev_key is not None
    for j, k in enumerate(key_list):
        v = pdf[k].to_numpy()
        na = pd.isna(v)
        same[1:] &= np.where(na[1:] | na[:-1], na[1:] & na[:-1], v[1:] == v[:-1])
        if prev_key is not None:
            p, p_na = prev_key[j], pd.isna(prev_key[j])
            same[0] &= bool(na[0] and p_na) or bool(not (na[0] or p_na) and v[0] == p)
    return ~same


def delta_dedup_fold(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    is_updated: Callable[[dict, dict], bool],
) -> DataFrame:
    """General-predicate delta via an ordered fold per key.

    ``is_updated(old, new)`` receives plain dicts of the row values:
    ``old`` is the last *accepted* record of the key, ``new`` the
    candidate. Rows are sorted by ``order_cols`` inside each key
    group (the batch analogue of Kafka offset order).

    One exchange on the key into ``defaultParallelism`` (= the cores)
    partitions, a sort within partitions by (key, order), then
    ``mapInPandas`` folds each partition in one linear pass. Per Arrow
    batch: key-run boundaries are found column-wise, the rows are
    turned into dicts once, the first row of a run is kept, later rows
    of the run go through ``is_updated``, and one boolean mask selects
    the output. The last key and its last accepted record carry into
    the next Arrow batch, so a run may span batches. Memory is one
    Arrow batch.

    Every Python task costs a worker round-trip even when it is empty,
    and AQE does not coalesce this exchange inside ``foreachBatch``, so
    the exchange is sized to the cores rather than to
    ``spark.sql.shuffle.partitions``. Its ``HashPartitioning`` on the
    key also serves a following ``Window.partitionBy(key)``.
    """
    schema: StructType = df.schema
    key_list = list(key_cols)
    order_list = list(order_cols)

    def run(batches):
        prev_key = None  # key of the last row seen
        last: dict | None = None  # last accepted record of that key
        for pdf in batches:
            if len(pdf) == 0:
                continue
            starts = _run_starts(pdf, key_list, prev_key)
            keep = np.zeros(len(pdf), dtype=bool)
            for i, (start, rec) in enumerate(zip(starts.tolist(), pdf.to_dict("records"))):
                if start or is_updated(last, rec):
                    keep[i] = True
                    last = rec
            prev_key = tuple(pdf[k].iat[-1] for k in key_list)
            if keep.any():
                yield pdf[keep]

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, *key_list)
        .sortWithinPartitions(*key_list, *order_list)
        .mapInPandas(run, schema)
    )


def delta_dedup_stream(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    is_updated: Callable[[dict, dict], bool],
    timeout_conf: str = "NoTimeout",
    state_ttl_ms: int | None = None,
):
    """Streaming delta with persistent per-key state.

    State = the last accepted record (as a single-row tuple),
    checkpointed by Structured Streaming; survives restarts like the
    reference's RocksDB store + changelog
    (topology/TopologyBuilder.java:66-69,87). Micro-batch rows are
    sorted by ``order_cols`` before the fold so per-key arrival
    order matches offset order.

    ``state_ttl_ms`` bounds state size — the 100 TB lever the
    reference's store lacks (its RocksDB store grows with the full
    key universe forever). When set, the operator switches to
    ``ProcessingTimeTimeout``: a key idle longer than the TTL is
    evicted on a later trigger, and its next record re-emits as
    first-seen. Eviction timestamps are re-armed on every batch that
    touches the key, so only genuinely idle keys age out.

    Exceptions inside the fold are captured per-key and surfaced as
    suppressed output rather than a crashed query (parity:
    TransformerBuilder.java:145-154 error capture), logged via the
    observability listener.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema: StructType = df.schema
    out_schema = schema
    key_list = list(key_cols)
    order_list = list(order_cols)
    field_names = [f.name for f in schema.fields]
    state_schema = schema  # last accepted record, same shape
    ttl = int(state_ttl_ms) if state_ttl_ms else None
    if ttl and timeout_conf == "NoTimeout":
        timeout_conf = "ProcessingTimeTimeout"

    def fn(key, pdfs, state: GroupState):
        if ttl and state.hasTimedOut:
            # idle past the TTL: evict; the key's next record is
            # first-seen again
            state.remove()
            yield pd.DataFrame(columns=field_names)
            return
        last = None
        if state.exists:
            last = dict(zip(field_names, state.get))
        keep_frames = []
        for pdf in pdfs:
            pdf = pdf.sort_values(order_list, kind="mergesort")
            keep = []
            for rec in pdf.to_dict("records"):
                try:
                    accept = last is None or is_updated(last, rec)
                except Exception:
                    accept = False  # error-capture: suppress, never crash
                if accept:
                    keep.append(True)
                    last = rec
                else:
                    keep.append(False)
            keep_frames.append(pdf[pd.Series(keep, index=pdf.index)])
        if last is not None:
            state.update(tuple(last[n] for n in field_names))
        if ttl:
            # timeouts clear on every invocation — re-arm so the TTL
            # measures idleness, not lifetime
            state.setTimeoutDuration(ttl)
        out = pd.concat(keep_frames) if keep_frames else pd.DataFrame(columns=field_names)
        yield out

    timeout = getattr(GroupStateTimeout, timeout_conf)
    return df.groupBy(*key_list).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout
    )


def delta_dedup_tws(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    is_updated: Callable[[dict, dict], bool],
    state_ttl_ms: int | None = None,
):
    """Streaming delta on the arbitrary-state v2 API
    (``transformWithStateInPandas``): explicit ``ValueState`` holding
    the last accepted record, with optional TTL.

    TTL is the 100 TB state-size lever the reference lacks: keys idle
    longer than ``state_ttl_ms`` are evicted (their next record
    re-emits as first-seen), bounding the store to the active key
    set. Requires the RocksDB state store provider
    (``spark.sql.streaming.stateStore.providerClass`` =
    ``...RocksDBStateStoreProvider``), which TTL state needs and a
    100 TB deployment wants anyway. Also requires ``protobuf``
    (the v2 state API's worker protocol) — absent from this test
    container, so the golden test for this path is skip-gated;
    :func:`delta_dedup_stream` is the tested streaming path here.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    schema: StructType = df.schema
    field_names = [f.name for f in schema.fields]
    order_list = list(order_cols)
    ttl = int(state_ttl_ms) if state_ttl_ms else None

    class DeltaProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._last = handle.getValueState("last_accepted", schema, ttl)

        def handleInputRows(self, key, rows, timerValues):
            last = None
            if self._last.exists():
                last = dict(zip(field_names, self._last.get()))
            for pdf in rows:
                pdf = pdf.sort_values(order_list, kind="mergesort")
                keep = []
                for rec in pdf.to_dict("records"):
                    try:
                        accept = last is None or is_updated(last, rec)
                    except Exception:
                        accept = False  # parity: suppress, never crash
                    if accept:
                        keep.append(True)
                        last = rec
                    else:
                        keep.append(False)
                out = pdf[pd.Series(keep, index=pdf.index)]
                if len(out):
                    yield out
            if last is not None:
                self._last.update(tuple(last[n] for n in field_names))

        def close(self) -> None:
            pass

    return df.groupBy(*key_cols).transformWithStateInPandas(
        DeltaProcessor(), schema, "append", "None"
    )


def changed_predicate(changed_cols: Sequence[str]) -> Callable[[dict, dict], bool]:
    """Default sugar: ``is_updated = any changed column differs``."""

    def pred(old: dict, new: dict) -> bool:
        return any(old.get(c) != new.get(c) for c in changed_cols)

    return pred
