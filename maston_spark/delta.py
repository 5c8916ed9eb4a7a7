"""The maston delta operator: keyed emit-iff-updated dedup.

Reference semantics (transformer/TransformerBuilder.java:116-162):
per recomputed business key, look up the last *accepted* record in a
persistent store; emit + store iff no previous record exists OR the
user predicate ``is_updated(old, new)`` returns true; otherwise
suppress. Golden behavior: the 6-record sequence in
topology/VavrKStreamWithDeltaTopologyTest.java:312-331 emits records
0, 2, 3 and 5.

Two implementations, fastest first:

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
   general semantics. The streaming delta,
   :func:`maston_spark.streaming.topology.delta_topology`, runs it on
   every micro-batch, seeded from its durable per-key state.

The reference has a latent bug (TransformerBuilder.java:134-136
double-``get`` on the invalid path) that we deliberately do NOT
replicate: invalid-input exclusion is a typed precondition here —
callers branch first (``delta_topology`` splits off the invalid
records before the fold).
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


def changed_predicate(changed_cols: Sequence[str]) -> Callable[[dict, dict], bool]:
    """Default sugar: ``is_updated = any changed column differs``."""

    def pred(old: dict, new: dict) -> bool:
        return any(old.get(c) != new.get(c) for c in changed_cols)

    return pred
