"""Relational operators Spark lacks as single calls: as-of join and
top-k per group, expressed as compositions of DataFrame ops so
Catalyst keeps full visibility (no UDFs, no driver-side loops).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F, Window


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_on: str,
    right_on: str,
    right_vals: Sequence[str],
    right_tiebreak: str,
    suffix: str = "_right",
) -> DataFrame:
    """Backward as-of join: for each left row, the right row with the
    greatest ``right_on <= left_on`` within the same ``by`` group
    (ties broken by the greatest ``right_tiebreak``).

    Union-and-window strategy: tag both sides, union, sort within
    each key by (time, side, tiebreak) and carry the last non-null
    right value forward. ONE shuffle on the group keys and no
    cross/range join — at 100 TB this beats a range join because
    the work is linear in rows after a single hash partition, and
    skewed keys are handled by AQE like any other window.
    """
    by = list(by)
    lcols = left.columns
    tagged_r = right.select(
        *[F.col(c) for c in by],
        F.col(right_on).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(right_tiebreak).alias("__tie"),
        *[F.col(v).alias(f"{v}{suffix}") for v in right_vals],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in by],
    )
    tagged_l = left.select(
        *[F.col(c) for c in by],
        F.col(left_on).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[right_tiebreak].dataType).alias("__tie"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"{v}{suffix}") for v in right_vals],
        *[F.col(c) for c in lcols if c not in by],
    )
    unioned = tagged_r.unionByName(tagged_l)
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col("__ts"), F.col("__side"), F.col("__tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*",
        *[
            F.last(F.col(f"{v}{suffix}"), ignorenulls=True).over(w).alias(f"__m_{v}")
            for v in right_vals
        ],
    )
    out = carried.filter(F.col("__side") == 1).select(
        *by,
        F.col("__ts").alias(left_on),
        *[F.col(c) for c in lcols if c not in by and c != left_on],
        *[F.col(f"__m_{v}").alias(f"{v}{suffix}") for v in right_vals],
    )
    return out


def top_k_per_group(
    df: DataFrame, group_cols: Sequence[str], order_by: Sequence[Column], k: int
) -> DataFrame:
    """Top-k rows per group via ranked window; ``order_by`` must
    totally order rows (include a unique tiebreaker) for
    deterministic results.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def snapshot_diff(
    a: DataFrame,
    b: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Classify every key as ``added`` / ``removed`` / ``changed``
    between two snapshots of a table — the CDC-style audit primitive
    behind incremental-load validation and replication checks
    (unchanged rows are dropped).

    Scale shape: ONE full-outer sort-merge join on the key columns
    (each side shuffles once); change detection is null-safe column
    comparison (`eqNullSafe`) — no row hashing and no string
    concatenation, so float formatting can never disagree across
    engines or versions. Output carries the key columns plus
    ``change_type``.
    """
    aj, bj = a.alias("a"), b.alias("b")
    cond = None
    for k in key_cols:
        c = F.col(f"a.{k}") == F.col(f"b.{k}")
        cond = c if cond is None else cond & c
    j = aj.join(bj, cond, "full_outer")
    a_absent = F.col(f"a.{key_cols[0]}").isNull()
    b_absent = F.col(f"b.{key_cols[0]}").isNull()
    changed = a_absent | b_absent
    for c in compare_cols:
        changed = changed | ~F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    return j.filter(changed).select(
        *[
            F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k)
            for k in key_cols
        ],
        F.when(a_absent, F.lit("added"))
        .when(b_absent, F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    )


def event_paths(
    df: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    order_cols: Sequence[str] = ("ts", "event_id"),
    n_steps: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Corpus-wide top-``top_k`` ``n_steps``-event user journeys:
    consecutive event-type windows per user, ordered by
    ``order_cols`` (include a unique tiebreaker so same-timestamp
    events can't reorder between runs).

    Scale shape: ONE hash shuffle on the user id for the ordering
    window — `lead` builds the path in place, so a hyperactive user
    costs a sorted partition, never a collected array — then a
    combiner-reduced count on the path string (≤ |event types|^n
    keys) and a TakeOrderedAndProject top-k.
    """
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    steps = [F.col(type_col)] + [
        F.lead(type_col, i).over(w).alias(f"__e{i}")
        for i in range(1, n_steps)
    ]
    last = F.lead(type_col, n_steps - 1).over(w)
    return (
        df.select(*steps, last.alias("__last"))
        .filter(F.col("__last").isNotNull())
        .select(
            F.concat_ws(
                ">", type_col, *[f"__e{i}" for i in range(1, n_steps)]
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(top_k)
    )


def histogram_exact(
    df: DataFrame, value_col: str, width: float
) -> DataFrame:
    """Deterministic equi-width histogram — the exact twin of
    Spark's approximate `histogram_numeric`: bucket =
    floor(value/width), one combiner-reduced aggregate whose shuffle
    is bounded by the value range, not the row count. Null values
    are excluded (no bucket)."""
    bucket = F.floor(F.col(value_col) / width)
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(
            bucket.cast("long").alias("bucket"),
            (bucket * width).cast("double").alias("bucket_low"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .orderBy("bucket")
    )


def exact_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    percentiles: Sequence[float],
    aliases: Sequence[str],
) -> DataFrame:
    """Exact continuous percentiles (linear interpolation, the
    ``percentile_cont`` contract) per group, computed as distributed
    order statistics instead of Spark's built-in ``percentile``
    aggregate.

    Why not the built-in: ``Percentile`` is an ObjectHashAggregate
    that buffers EVERY value of a group in one JVM ``OpenHashMap``
    and merges those maps single-threaded per group — per-group
    state scales with group size, the same unbounded-per-task shape
    as an uncapped cross join. With few groups (the common shape:
    percentiles per status/flag/day) the final merge is also a
    3-task straggler stage. Measured at sf0.1: 3.0 s built-in vs
    1.0 s this operator, identical results bit-for-bit.

    Shape here — bounded state everywhere:
    1. ``groupBy(group, value).count()`` — a codegen hash aggregate
       with map-side combine; shuffle volume is bounded by DISTINCT
       values per group, not rows.
    2. One window over the value-ordered histogram per group gives
       cumulative counts (both frames share the single sort+
       exchange).
    3. The target order statistics ``floor/ceil((n-1)·p)`` are
       picked out with ``min(when(...))`` flags in a second codegen
       hash agg — the percentile rows, never the corpus, reach the
       final stage.
    4. Interpolation ``v_lo·(1−frac) + v_hi·frac`` — the exact
       weighted form DuckDB's quantile_cont and Spark's builtin both
       use (NOT the algebraically-equal ``v_lo + frac·(v_hi−v_lo)``,
       which differs at 1 ulp and breaks bit-parity) — happens on
       |groups|·|percentiles| scalars.

    For genuinely continuous values whose distinct count approaches
    the row count, step 2's per-group sort is the bound — there the
    mergeable-sketch twin (``percentile_approx``) is the 100 TB
    drop-in, same call shape. Values must be numeric; nulls are
    excluded (``percentile_cont`` semantics).
    """
    if len(percentiles) != len(aliases):
        raise ValueError("percentiles and aliases must align")
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    w = Window.partitionBy(group_col).orderBy(value_col)
    cum = F.sum("__cnt").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.sum("__cnt").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    g2 = g.select(
        group_col, value_col, "__cnt", cum.alias("__cum"), n.alias("__n")
    )
    pre = F.col("__cum") - F.col("__cnt")
    aggs = []
    for p, al in zip(percentiles, aliases):
        rank = (F.col("__n") - 1) * F.lit(float(p))
        lo, hi = F.floor(rank), F.ceil(rank)
        aggs.append(
            F.min(
                F.when((pre <= lo) & (lo < F.col("__cum")), F.col(value_col))
            ).alias(f"__vlo_{al}")
        )
        aggs.append(
            F.min(
                F.when((pre <= hi) & (hi < F.col("__cum")), F.col(value_col))
            ).alias(f"__vhi_{al}")
        )
    out = g2.groupBy(group_col).agg(F.max("__n").alias("__n"), *aggs)
    cols: list[Column | str] = [group_col]
    for p, al in zip(percentiles, aliases):
        rank = (F.col("__n") - 1) * F.lit(float(p))
        frac = rank - F.floor(rank)
        cols.append(
            (
                F.col(f"__vlo_{al}") * (F.lit(1.0) - frac)
                + F.col(f"__vhi_{al}") * frac
            ).alias(al)
        )
    return out.select(*cols)


def global_rank(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_col: str = "rank",
    num_partitions: int | None = None,
    return_total: bool = False,
):
    """Global 1-based row_number over an UNBOUNDED domain without the
    single-task window. The naive formulation —
    ``row_number() OVER (ORDER BY ...)`` with no partition — pulls
    every row through one reducer (Spark logs ``WindowExec: No
    Partition Defined``): fine for a bounded series, a genuine
    scale-killer for web-scale domains (a 100 TB corpus's vocabulary
    is ~10⁹ distinct tokens). Two-phase prefix ranking instead — the
    same distributed-prefix pattern as
    :func:`maston_spark.llm.sampling.budget_select`:

    1. ``repartitionByRange`` on the sort key (the only full-data
       shuffle) into ``num_partitions`` or, by default,
       ``defaultParallelism`` (the cores: AQE never coalesces an
       explicit count, and every range partition is one Python task
       in step 3) + ``sortWithinPartitions``, then a PINNED persist so
       both phases see identical partition boundaries
       (RangePartitioner samples boundaries per execution; an
       evicted cache would re-sample and the offsets would silently
       misalign — same rationale as budget_select's pin).
    2. A |partitions|-row count aggregate; the driver folds it into
       exclusive prefix OFFSETS (one long per partition).
    3. One Arrow-batched ``mapInPandas`` pass emits
       ``offset[partition] + local position`` — no Window node
       anywhere in the plan (pinned by a plan test).

    ``order_by`` must be a TOTAL order (include a tiebreaker) for the
    rank to be deterministic; with ties unbroken, tied rows receive
    the arbitrary-but-valid ranks of some linearization."""
    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    ordered = (
        df.repartitionByRange(p, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        r["__pid"]: r["c"]
        for r in ordered.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += int(counts[pid])

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        list(df.schema.fields) + [StructField(rank_col, LongType())]
    )

    def number(batches):
        import numpy as np

        run = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = offsets[int(pdf["__pid"].iloc[0])]
            n = len(pdf)
            out = pdf.drop(columns="__pid")
            out[rank_col] = np.arange(run + 1, run + n + 1, dtype="int64")
            run += n
            yield out

    ranked = ordered.mapInPandas(number, out_schema)
    if return_total:
        # the total row count is already known from the phase-2
        # counts action — callers needing m (q264's BH compare) skip
        # a whole re-execution of the rank pass (round-17, guide §1.2)
        return ranked, acc
    return ranked


def weighted_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    percentiles: "Sequence[float]",
    aliases: "Sequence[str]",
) -> DataFrame:
    """Exact WEIGHTED percentiles per group: for each p, the smallest
    value whose cumulative weight reaches ``p x total_weight`` — the
    weighted ``percentile_disc`` contract (lower weighted quantile).
    The question a token-budget planner actually asks: "half the
    TOKENS live in documents longer than what?" is the
    token-weighted median of document length, not the document-count
    median :func:`exact_percentiles` gives.

    Shape mirrors :func:`exact_percentiles` — bounded state
    everywhere: one combiner-reduced ``groupBy(group, value)``
    weight-sum (shuffle bounded by distinct values per group, not
    rows), one cumulative window over the value-ordered weight
    histogram, then ``min(when(...))`` flag aggregates pick the
    target rows; |groups|x|percentiles| scalars reach the finish.

    Cross-engine exactness: with integer weights every cumulative
    sum is exact int64 and the threshold test runs cross-multiplied
    (``cum x 1 >= p x W`` evaluated as the identical IEEE product
    ``p*W`` of a double literal and an exact-int64-valued double) —
    the picked value is raw data, no arithmetic on it. Null values
    and null/non-positive weights are excluded.
    """
    if len(percentiles) != len(aliases):
        raise ValueError("percentiles and aliases must align")
    g = (
        df.filter(
            F.col(value_col).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .groupBy(group_col, value_col)
        .agg(F.sum(weight_col).cast("long").alias("__w"))
    )
    w = Window.partitionBy(group_col).orderBy(value_col)
    cum = F.sum("__w").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = F.sum("__w").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    g2 = g.select(
        group_col, value_col, cum.alias("__cum"), tot.alias("__W")
    )
    aggs = []
    for p, al in zip(percentiles, aliases):
        thresh = F.lit(float(p)) * F.col("__W")
        aggs.append(
            F.min(F.when(F.col("__cum") >= thresh, F.col(value_col))).alias(al)
        )
    return g2.groupBy(group_col).agg(*aggs)


def robust_outlier_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Per-group robust outlier statistics: median, MAD (median
    absolute deviation), and the count of values beyond
    ``k · 1.4826 · MAD`` of the median — the standard
    distribution-free outlier rule (1.4826 makes MAD a consistent
    σ estimator under normality), immune to the outliers themselves
    in a way mean/stddev z-scores are not. The data-quality gate a
    pipeline runs on numeric feeds before training.

    Both medians go through :func:`exact_percentiles` (distributed
    order statistics, bounded per-task state). The median/MAD tables
    are |groups| rows and broadcast back; the corpus is scanned, not
    persisted — three column-pruned scans beat pinning a 100 TB
    projection in cache.

    Threshold comparison is evaluated as ``|x − med| > k · 1.4826 ·
    mad`` with left-associated literal multiplication, so an oracle
    writing the same expression gets bit-identical flips.
    """
    med = exact_percentiles(df, group_col, value_col, (0.5,), ("med",))
    dev = df.join(F.broadcast(med), group_col).select(
        group_col,
        F.col(value_col).alias("__x"),
        "med",
        F.abs(F.col(value_col) - F.col("med")).alias("__dev"),
    )
    mad = exact_percentiles(dev, group_col, "__dev", (0.5,), ("mad",))
    flagged = dev.join(F.broadcast(mad), group_col)
    is_out = F.col("__dev") > F.lit(float(k)) * F.lit(1.4826) * F.col("mad")
    return flagged.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max("med").alias("median"),
        F.max("mad").alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
        F.round(
            F.sum(F.when(is_out, 1).otherwise(0)) / F.count(F.lit(1)), 6
        ).alias("outlier_frac"),
    )


def decayed_sum(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
    half_life_days: int = 7,
) -> DataFrame:
    """Per-group time-decayed engagement: ``Σ value · 0.5^age``, with
    age measured in whole ``half_life_days`` buckets behind the
    NEWEST event in the table — the recency-weighted feature
    (engagement scores, freshness-weighted revenue) every
    feature-engineering pipeline computes over an event stream.

    Determinism over libm: the decay weight is ``0.5^k`` for INTEGER
    k — an exact IEEE power of two — never ``exp(−λ·Δt)``, whose
    last-ulp value is libm-implementation-specific and would make the
    result engine-dependent. Bucketed decay trades smoothness for a
    bit-reproducible number; per-group sums go through the
    round(9)+DECIMAL(28,9) reduction so partition order can't move a
    rounding boundary.

    Scale shape: the reference timestamp is ONE slim aggregate
    broadcast back (no window, no collect of data rows); the decayed
    sum is a plain combiner-reduced hash agg — one shuffle on the
    group key.
    """
    ref = df.agg(F.max(ts_col).alias("__ref"))
    aged = df.join(F.broadcast(ref)).select(
        group_col,
        value_col,
        F.floor(
            F.datediff(F.col("__ref"), F.col(ts_col))
            / F.lit(int(half_life_days))
        ).alias("__k"),
    )
    w = F.pow(F.lit(0.5), F.col("__k"))
    return (
        aged.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(
                F.sum(
                    F.round(F.col(value_col) * w, 9).cast("decimal(28,9)")
                ).cast("double"),
                6,
            ).alias("decayed_sum"),
        )
        .orderBy(group_col)
    )


def group_trend(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group OLS trend: the least-squares slope of ``value`` over
    time (per day) — the 'is this user's engagement rising or
    falling' feature, computed closed-form from moment sums (never an
    iterative solver).

    Determinism: x is seconds since the table's EARLIEST timestamp (a
    1-row broadcast — centering keeps x² sums inside DECIMAL(38,9)
    range and the slope is shift-invariant); the four moment sums
    round each term to 9 decimals and accumulate in DECIMAL(38,9), so
    partition order can't move them; the closed-form
    ``(n·Sxy − Sx·Sy) / (n·Sxx − Sx²)`` then runs on identical
    doubles in any engine. Groups with a single row or zero x
    variance yield an EXPLICIT null slope (engines disagree on
    double 0/0 — Spark nulls, IEEE nans — so the guard is spelled
    out).

    One shuffle on the group key; everything else is a 1-row
    broadcast and scalar math on |groups| rows.
    """
    ref = df.agg(F.min(ts_col).alias("__t0"))
    base = df.join(F.broadcast(ref)).select(
        group_col,
        # exact integer microsecond delta, then ONE double division —
        # unix_timestamp would TRUNCATE sub-second fractions and
        # silently diverge from the oracle's epoch arithmetic
        (
            (
                F.unix_micros(F.col(ts_col).cast("timestamp"))
                - F.unix_micros(F.col("__t0").cast("timestamp"))
            )
            / F.lit(1000000.0)
        ).alias("__x"),
        F.col(value_col).cast("double").alias("__y"),
    )

    def dsum(c):
        return F.sum(F.round(c, 9).cast("decimal(38,9)")).cast("double")

    m = base.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("__x")).alias("sx"),
        dsum(F.col("__y")).alias("sy"),
        dsum(F.col("__x") * F.col("__y")).alias("sxy"),
        dsum(F.col("__x") * F.col("__x")).alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    # explicit zero-variance guard: engines disagree on double 0/0
    # (Spark -> null, IEEE -> nan), so make the null explicit
    slope_per_sec = F.when(den == 0, F.lit(None)).otherwise(num / den)
    return m.select(
        group_col,
        "n",
        F.round(slope_per_sec * F.lit(86400.0), 6).alias("slope_per_day"),
    ).orderBy(group_col)


def quantile_bins(
    df: DataFrame, value_col: str, n_bins: int = 10
) -> DataFrame:
    """Equal-frequency (quantile) binning: assign every row to one of
    ``n_bins`` buckets cut at the exact ``i/n_bins`` percentiles —
    the feature-prep discretization that equi-width histograms can't
    provide on skewed data (each bin holds ~the same row count by
    construction). Returns per-bin row counts and the observed
    value range.

    The interior cut points come from :func:`exact_percentiles`
    (distributed order statistics — the percentile_cont contract,
    bit-identical to the oracle), broadcast back as ONE row; the bin
    id is then a pure projection ``Σ (x > edge_i)`` — ties land in
    the lower bin in both engines because the comparison is on
    identical doubles. Bin min/max are untouched data values (no
    arithmetic), so the whole output is exact. Empty bins (possible
    under heavy ties) are absent from the output in both engines.
    """
    n = int(n_bins)
    if n < 2:
        raise ValueError("n_bins must be >= 2")
    ps = [i / n for i in range(1, n)]
    als = [f"__e{i}" for i in range(1, n)]
    edges = exact_percentiles(
        df.select(F.lit(1).alias("__g"), value_col), "__g", value_col, ps, als
    ).drop("__g")
    bucket = None
    for a in als:
        term = F.when(F.col(value_col) > F.col(a), 1).otherwise(0)
        bucket = term if bucket is None else bucket + term
    return (
        df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(edges))
        .groupBy(bucket.cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(value_col).alias("min_val"),
            F.max(value_col).alias("max_val"),
        )
        .orderBy("bin")
    )


def last_touch_attribution(
    df: DataFrame,
    user_col: str,
    type_col: str,
    conversion_type: str,
    touch_types: Sequence[str],
    order_cols: Sequence[str] = ("ts", "event_id"),
    lookback_days: int | None = 7,
) -> DataFrame:
    """Last-touch conversion attribution: for every conversion event,
    credit the most recent preceding touch event (of
    ``touch_types``) by the same user within ``lookback_days`` —
    the standard marketing/product-analytics attribution query, and
    an as-of join expressed WITHOUT a join: one user-partitioned
    window carries the latest touch (type + timestamp) forward, so
    the whole operator is a single hash shuffle on the user id
    (the same union+window discipline as :func:`asof_join`).

    Conversions with no touch in the window attribute to
    ``'(none)'``. A touch at the conversion's exact timestamp counts
    (<=-semantics via the window ordering); ``order_cols`` must end
    in a unique tiebreaker so same-timestamp events cannot reorder
    between engines. Output: attributed touch type, conversion
    count, and share of all conversions.
    """
    from pyspark.sql import Window

    is_touch = F.col(type_col).isin(*touch_types)
    w = (
        Window.partitionBy(user_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ts_col = order_cols[0]
    carried = df.select(
        user_col,
        type_col,
        *[F.col(c) for c in order_cols],
        F.last(F.when(is_touch, F.col(type_col)), ignorenulls=True)
        .over(w)
        .alias("__touch"),
        F.last(F.when(is_touch, F.col(ts_col)), ignorenulls=True)
        .over(w)
        .alias("__touch_ts"),
    ).filter(F.col(type_col) == conversion_type)
    if lookback_days is not None:
        in_window = F.col("__touch_ts") >= (
            F.col(ts_col) - F.expr(f"INTERVAL {int(lookback_days)} DAYS")
        )
    else:
        in_window = F.lit(True)
    attributed = carried.select(
        F.coalesce(
            F.when(in_window, F.col("__touch")), F.lit("(none)")
        ).alias("attributed_to")
    )
    counts = attributed.groupBy("attributed_to").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions")
    )
    total = counts.agg(F.sum("n_conversions").alias("__t"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "attributed_to",
            "n_conversions",
            F.round(F.col("n_conversions") / F.col("__t"), 6).alias(
                "conversion_share"
            ),
        )
        .orderBy("attributed_to")
    )


def gapfill_locf(
    df: DataFrame,
    series_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 hour",
    interpolate: bool = False,
) -> DataFrame:
    """Time-bucketed gap-fill with last-observation-carried-forward —
    the TimescaleDB ``time_bucket_gapfill`` / ``locf`` shape: bucket
    events per series, then emit EVERY bucket between each series'
    first and last observation, with missing buckets flagged and
    their value carried forward from the last observed bucket.
    Returns ``(series, bucket, n_events, sum_value, is_gap,
    locf_sum)`` rows; ``sum_value`` is NULL on gap rows.

    Distributed shape: the raw corpus is touched ONCE by a
    (series, bucket) hash agg with map-side combine; everything
    after — per-series bounds, the `sequence()` bucket generator,
    the left join, the LOCF window — runs on the AGGREGATED frame,
    whose size is series x time-range, independent of event count.
    The LOCF window partitions by series over time-ordered buckets,
    bounded by the time range, not the corpus. Sums are
    decimal-exact (round-9 then DECIMAL(38,9)) so partial-agg
    reordering cannot flip a rounding boundary cross-engine.
    """
    b = (
        df.groupBy(
            F.col(series_col).alias("series"),
            F.window(F.col(ts_col), bucket)["start"].alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.round(
                    F.sum(
                        F.round(F.col(value_col), 9).cast("decimal(38,9)")
                    ).cast("double"),
                    4,
                )
                + F.lit(0.0)
            ).alias("sum_value"),
        )
    )
    bounds = b.groupBy("series").agg(
        F.min("bucket").alias("__lo"), F.max("bucket").alias("__hi")
    )
    full = bounds.select(
        "series",
        F.explode(
            F.expr(f"sequence(__lo, __hi, interval {bucket})")
        ).alias("bucket"),
    )
    w = (
        Window.partitionBy("series")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = full.join(b, ["series", "bucket"], "left").select(
        "series",
        "bucket",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        "sum_value",
        F.col("n").isNull().alias("is_gap"),
        F.last("sum_value", ignorenulls=True).over(w).alias("locf_sum"),
    )
    if not interpolate:
        return out
    # linear interpolation between the surrounding observed buckets
    # (TimescaleDB `interpolate`): both neighbors always exist for a
    # gap because the filled range spans each series' own min..max
    # observation. Two more frames over the SAME aggregated-series
    # window partition — no extra shuffle (one sort, three frames).
    wn = (
        Window.partitionBy("series")
        .orderBy("bucket")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_bucket = F.when(F.col("n_events") > 0, F.col("bucket"))
    pv = F.last("sum_value", ignorenulls=True).over(w)
    pb = F.last(obs_bucket, ignorenulls=True).over(w)
    nv = F.first("sum_value", ignorenulls=True).over(wn)
    nb = F.first(obs_bucket, ignorenulls=True).over(wn)
    # NTZ buckets need an explicit hop through TIMESTAMP to reach
    # epoch seconds; the session timezone is pinned to UTC so this
    # matches DuckDB's epoch() exactly
    def _epoch(c):
        return c.cast("timestamp").cast("long")

    frac = (
        (_epoch(F.col("bucket")) - _epoch(pb)).cast("double")
        / (_epoch(nb) - _epoch(pb)).cast("double")
    )
    # deliberately UNROUNDED: every input (the already-rounded
    # neighbor sums, integer epoch differences) is a bit-identical
    # double on any IEEE engine, so the raw result is reproducible —
    # while rounding it COULD land on a decimal-grid midpoint
    # (frac = 1/2 between two 4-decimal sums) where engines' round
    # implementations disagree
    return out.withColumn(
        "interp_sum",
        F.when(F.col("n_events") > 0, F.col("sum_value")).otherwise(
            pv + (nv - pv) * frac
        ),
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Apply a CDC change stream to a snapshot (the MERGE / upsert
    maintenance step of an incremental lakehouse table): for each
    key, the highest-``seq_col`` change wins; a winning delete row
    removes the key; keys untouched by the stream keep their base
    row. ``changes`` must carry the base columns plus ``op_col`` and
    ``seq_col``; base rows rank below every change (seq −1).

    Determinism: when two change rows for the same key share a seq
    value (common when seq is a timestamp), the winner is still
    total-ordered — ties break on op descending (an upsert outranks
    a delete at the same instant, the lakehouse MERGE convention)
    and then on the full row payload, so replays produce the same
    snapshot regardless of shuffle arrival order.

    Distributed shape: ONE union + ONE hash shuffle on the key — the
    per-key winner is a ``row_number`` over (key) ordered by seq
    descending, so the operator costs exactly one exchange
    regardless of snapshot or stream size (the same plan MERGE
    compiles to when the whole key space changes; for sparse change
    sets an engine with file-level pruning skips untouched files —
    at the DataFrame level that optimization belongs to the table
    format, not the operator).
    """
    data_cols = [c for c in base.columns]
    b = (
        base.select(*data_cols)
        .withColumn("__op", F.lit("I"))
        .withColumn("__seq", F.lit(-1).cast("long"))
    )
    ch = changes.select(
        *data_cols,
        F.col(op_col).alias("__op"),
        F.col(seq_col).cast("long").alias("__seq"),
    )
    payload = [c for c in data_cols if c not in key_cols]
    order = [F.col("__seq").desc(), F.col("__op").desc()]
    if payload:
        order.append(F.struct(*[F.col(c) for c in payload]).desc())
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(*order)
    return (
        b.unionByName(ch)
        .withColumn("__rn", F.row_number().over(w))
        .filter((F.col("__rn") == 1) & (F.col("__op") != delete_op))
        .select(*data_cols)
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    l_start: str,
    l_end: str,
    r_start: str,
    r_end: str,
    bucket_width: int,
    partition_cols: Sequence[str] = (),
    how_overlap: str = "overlap",
) -> DataFrame:
    """Interval-overlap join at scale: pairs (l, r) whose
    [start, end] ranges overlap (``l_start <= r_end AND r_start <=
    l_end``), the notorious non-equi join Spark would otherwise plan
    as a nested-loop / broadcast-theta scan of |L|·|R| pairs.

    Distributed shape (the standard bucketized-overlap rewrite both
    GenomicsDB-style engines and time-series stores use): each
    interval explodes into the fixed-width BUCKETS it touches
    (``floor(start/w) .. floor(end/w)`` — ceil((end−start)/w)+1 rows,
    bounded when interval length is bounded), the join becomes an
    EQUI-join on (partition_cols…, bucket) with the exact overlap
    predicate as a post-filter, and duplicate hits from a pair
    sharing several buckets are eliminated WITHOUT a distinct: the
    pair is kept only in the FIRST bucket both intervals touch
    (``bucket == max(floor(l_start/w), floor(r_start/w))``) — a pure
    projection-level condition, no second shuffle. Start/end columns
    are epoch seconds (cast timestamps upstream); ``bucket_width`` is
    the tuning knob: ~the typical interval length keeps the explode
    factor ~2 and the per-bucket population balanced.

    ``how_overlap='contains'`` keeps only pairs where l contains r.
    """
    if how_overlap not in ("overlap", "contains"):
        raise ValueError(
            f"how_overlap must be 'overlap' or 'contains', got {how_overlap!r}"
        )
    w = int(bucket_width)
    lb = left.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(l_start) / w), F.floor(F.col(l_end) / w)
            )
        ),
    )
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(r_start) / w), F.floor(F.col(r_end) / w)
            )
        ),
    )
    on = [*partition_cols, "__bucket"]
    joined = lb.join(rb, on)
    overlap = (F.col(l_start) <= F.col(r_end)) & (
        F.col(r_start) <= F.col(l_end)
    )
    if how_overlap == "contains":
        overlap = (F.col(l_start) <= F.col(r_start)) & (
            F.col(r_end) <= F.col(l_end)
        )
    first_shared = F.col("__bucket") == F.greatest(
        F.floor(F.col(l_start) / w), F.floor(F.col(r_start) / w)
    )
    return joined.filter(overlap & first_shared).drop("__bucket")


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    unit: str = "hour",
) -> DataFrame:
    """Per-group CUSUM changepoint over the event-COUNT series: one
    row per group — ``(group, changepoint_ts, n_buckets,
    total_events, cusum_scaled, cusum)`` where ``changepoint_ts`` is
    the time bucket maximizing |S_i|, ``S_i = Σ_{t≤i}(x_t - x̄)`` the
    classic CUSUM statistic (Page 1954) over per-bucket counts
    ``x_t``. The bucket where cumulative deviation from the mean
    peaks is the single most likely rate-shift point — the first
    question an ingest-volume anomaly triggers.

    Cross-engine exactness: S_i involves the rational mean x̄ =
    total/n, so the operator works in the n-SCALED integer domain —
    ``n·S_i = n·cum_i − i·total`` is exact int64 arithmetic, the
    argmax is over integers (ties break to the earliest bucket), and
    the reported ``cusum`` is the raw IEEE quotient
    ``cusum_scaled / n_buckets`` of two exact integers — identical
    on any engine, no rounding grid at all.

    Scale shape: ONE bucket aggregation reduces the corpus to
    |groups| × |buckets| rows (combiner-reduced); every window below
    is PARTITIONED by group over that bounded series — never a
    partition-less corpus window. Totals join broadcast
    (|groups| rows).
    """
    b = (
        df.groupBy(
            F.col(group_col), F.date_trunc(unit, F.col(ts_col)).alias("__bkt")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    return cusum_from_counts(b, group_col)


def cusum_from_counts(b: DataFrame, group_col: str) -> DataFrame:
    """The CUSUM closing math over a PRE-AGGREGATED ``(group, __bkt,
    __c)`` bucket-count frame — shared by :func:`cusum_changepoint`
    (one batch scan) and the streaming rate-shift monitor
    (:func:`maston_spark.streaming.topology.cusum_monitor_topology`,
    whose durable state IS such a count table folded additively
    across micro-batches — late buckets simply add into their cell),
    so the two paths cannot diverge on the statistic. Same output
    contract and n-scaled integer exactness as
    :func:`cusum_changepoint`."""
    w = Window.partitionBy(group_col).orderBy("__bkt")
    wc = b.select(
        group_col,
        "__bkt",
        F.sum("__c").over(w).alias("__cum"),
        F.row_number().over(w).cast("long").alias("__idx"),
    )
    t = b.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("__c").cast("long").alias("total_events"),
    )
    s = wc.join(F.broadcast(t), group_col).withColumn(
        "__scaled",
        F.col("n_buckets") * F.col("__cum") - F.col("__idx") * F.col("total_events"),
    )
    pick = Window.partitionBy(group_col).orderBy(
        F.abs(F.col("__scaled")).desc(), F.col("__bkt").asc()
    )
    return (
        s.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            group_col,
            F.col("__bkt").alias("changepoint_ts"),
            "n_buckets",
            "total_events",
            F.col("__scaled").alias("cusum_scaled"),
            (F.col("__scaled").cast("double") / F.col("n_buckets")).alias("cusum"),
        )
    )


def seasonal_anomalies(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    unit: str = "hour",
    factor: int = 2,
) -> DataFrame:
    """Seasonal-baseline rate anomalies: bucket events per
    (``group``, truncated ``unit``), learn each group's
    season-of-day profile (mean count per hour-of-day), and flag
    buckets whose count exceeds ``factor``× their seasonal mean
    (``direction='high'``) or falls below 1/``factor`` of it
    (``'low'``) — the complement of :func:`cusum_changepoint`: CUSUM
    finds the one persistent level shift, this finds the individual
    buckets that break their own recurring profile.

    Cross-engine exactness: the seasonal mean is the rational
    ``s_sum / s_cnt``, so both comparisons run cross-multiplied in
    exact int64 (``c·s_cnt > factor·s_sum`` / ``factor·c·s_cnt <
    s_sum``) — no division, no rounding, nothing for two engines to
    disagree on.

    Scale shape: ONE combiner-reduced bucket aggregation collapses
    the corpus; the seasonal profile is a second agg over those
    bucket rows (≤ |groups|×|season| output) joined back broadcast;
    the flag is a pure projection.

    Supported units and their season keys: ``hour`` → hour-of-day
    (24 seasons), ``day`` → day-of-week (7 seasons). A coarser or
    finer unit has no meaningful recurring key here and is rejected
    (a mismatched pair would silently fragment buckets).
    """
    season_keys = {"hour": F.hour, "day": F.dayofweek}
    if unit not in season_keys:
        raise ValueError(
            f"unit must be one of {sorted(season_keys)} (got {unit!r})"
        )
    b = df.groupBy(
        F.col(group_col),
        F.date_trunc(unit, F.col(ts_col)).alias("bucket_ts"),
        season_keys[unit](F.col(ts_col)).alias("__how"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    s = b.groupBy(group_col, "__how").agg(
        F.count(F.lit(1)).cast("long").alias("__s_cnt"),
        F.sum("n_events").cast("long").alias("__s_sum"),
    )
    fac = F.lit(int(factor))
    joined = b.join(F.broadcast(s), [group_col, "__how"])
    high = F.col("n_events") * F.col("__s_cnt") > fac * F.col("__s_sum")
    low = fac * F.col("n_events") * F.col("__s_cnt") < F.col("__s_sum")
    return (
        joined.filter(high | low)
        .select(
            group_col,
            "bucket_ts",
            "n_events",
            F.col("__s_cnt").alias("season_buckets"),
            F.col("__s_sum").alias("season_events"),
            F.when(high, F.lit("high")).otherwise(F.lit("low")).alias("direction"),
        )
    )


def grouped_quantile_bins(
    df: DataFrame, group_col: str, value_col: str, n_bins: int = 4
) -> DataFrame:
    """Per-GROUP equal-frequency binning: every row assigned to one
    of ``n_bins`` buckets cut at its OWN group's exact ``i/n_bins``
    percentiles — the calibration step that makes a quality score
    comparable across sources before a global budget cut (a source's
    top quartile means "top quartile OF THAT SOURCE", regardless of
    how its absolute score distribution sits). Returns per
    (group, bin) row counts and observed value ranges.

    Same physics as :func:`quantile_bins`, with the group threaded
    through: cut points come from :func:`exact_percentiles`
    (distributed order statistics, one row PER GROUP), broadcast
    back as a |groups|-row join, and the bin id is the pure
    projection ``Σ (x > edge_i)`` — never a per-group sort of the
    corpus, so a hot source cannot create a straggler partition.
    """
    n = int(n_bins)
    if n < 2:
        raise ValueError("n_bins must be >= 2")
    ps = [i / n for i in range(1, n)]
    als = [f"__e{i}" for i in range(1, n)]
    edges = exact_percentiles(df, group_col, value_col, ps, als)
    bucket = None
    for a in als:
        term = F.when(F.col(value_col) > F.col(a), 1).otherwise(0)
        bucket = term if bucket is None else bucket + term
    return (
        df.filter(F.col(value_col).isNotNull())
        .join(F.broadcast(edges), group_col)
        .groupBy(F.col(group_col), bucket.cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(value_col).alias("min_val"),
            F.max(value_col).alias("max_val"),
        )
        .orderBy(group_col, "bin")
    )


def table_fingerprint(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Order-insensitive content fingerprint of a table: ONE row
    ``(n_rows, xor_fp, sum_fp)`` where each data row hashes to a
    60-bit md5 lane and the fingerprints fold with XOR and exact
    decimal SUM — both commutative/associative, so the result is
    independent of partitioning, ordering, and cluster size. Two
    pipelines produced the same multiset of rows iff all three fields
    match (XOR alone is blind to duplicate-PAIR insertions, the sum
    isn't; the sum alone is forgeable by rebalancing, the XOR isn't
    — together with the count they pin the multiset for any
    non-adversarial drift). The cheap first check before a full
    :func:`table_diff`: O(1) output, one combiner-reduced scan.

    NULLs are folded as an explicit sentinel (``concat_ws`` would
    silently skip them, making (NULL,'x') collide with ('x',NULL)).
    The decimal sum is exact: n·2⁶⁰ stays far under DECIMAL(38,0)
    for any realistic row count.
    """
    cols = columns or df.columns
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("<NULL>")) for c in cols
    ]
    h = F.conv(
        F.substring(F.md5(F.concat_ws("\x1f", *parts)), 1, 15), 16, 10
    ).cast("long")
    return df.select(h.alias("__h")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.expr("bit_xor(__h)").cast("long").alias("xor_fp"),
        # emitted as a string: a 2^80-magnitude exact integer survives
        # neither engine's DataFrame->pandas float conversion
        F.sum(F.col("__h").cast("decimal(38,0)")).cast("string").alias("sum_fp"),
    )


def cumulative_reach(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    unit: str = "day",
) -> DataFrame:
    """Exact cumulative-reach growth curve: for every time bucket,
    how many DISTINCT users have been seen up to and including it —
    ``(bucket_ts, new_users, cumulative_users)``. The audience-growth
    report naive SQL writes as a quadratic self-join or a giant
    count-distinct window; both die at scale.

    The first-touch reduction makes it one pass: each user collapses
    to their FIRST bucket (a min aggregation — combiner-reduced, the
    shuffle carries one row per user), new-user counts per bucket
    follow (|buckets| rows), and the cumulative sum is a window over
    that bounded series. Every number is an exact integer. Buckets
    with no NEW users are absent (their cumulative value is the
    previous row's — gap-fill downstream if a dense axis is needed).
    """
    first = (
        df.filter(F.col(user_col).isNotNull())
        .groupBy(F.col(user_col).alias("__u"))
        .agg(F.min(F.date_trunc(unit, F.col(ts_col))).alias("bucket_ts"))
    )
    per_bucket = first.groupBy("bucket_ts").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    # |buckets|-row series — the partition-less window is bounded by
    # the time range / bucket width, never by data volume
    w = Window.orderBy("bucket_ts")
    return per_bucket.select(
        "bucket_ts",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    ).orderBy("bucket_ts")


def zorder_layout_report(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    file_bits: int = 5,
) -> DataFrame:
    """Side-by-side file-pruning statistics for two physical layouts
    of the same table — ``(layout, file_id, n_rows, x_span, y_span)``
    per simulated file, where a "file" is a contiguous key range
    (2^file_bits files) and the spans are the max-min of each
    dimension inside the file: EXACTLY the min/max column stats a
    parquet footer / lakehouse manifest keeps, i.e. the numbers that
    decide whether a file can be SKIPPED for a predicate.

    ``layout='zorder'`` buckets by the top bits of
    :func:`maston_spark.partitioning.morton_interleave` (the shared
    Z-order primitive); ``layout='single'`` buckets by the top bits
    of ``y`` alone (the sort-by-primary-key default). The report
    makes the 100 TB layout tradeoff measurable: the single-column
    layout drives ``y_span`` to ~1/2^file_bits of the domain but
    leaves ``x_span`` unbounded (no pruning for x predicates), while
    z-order bounds BOTH spans (each file constrains the top
    ``ceil(file_bits/2)`` bits of y and ``floor(file_bits/2)`` of x).

    Each dimension is first NORMALIZED to the full ``bits``-bit
    window by exact integer scaling ``((v - lo) * 2^bits) div
    (hi - lo + 1)`` against the column's observed bounds — raw keys
    that occupy only the low bits of their type would otherwise
    leave the interleave's file-selecting TOP bits constant (one
    file, no demonstration; measured on TPC-H-ish keys). The scaling
    runs in DECIMAL(38,0): int64 math would overflow the
    ``(v - lo) * 2^bits`` product for column spans ≥ ~2^47
    (snowflake ids, epoch nanos) and silently corrupt file
    assignment; decimal holds the full 2^63·2^16 product exactly and
    the quotient (< 2^bits) casts back to BIGINT losslessly. Spans
    are reported in normalized units, directly comparable across
    layouts. One bounds aggregation (broadcast 1 row) + one
    projection + one combiner-reduced aggregation per layout — no
    sort, no shuffle beyond the 2·2^file_bits-row agg."""
    return (
        _layout_file_frame(df, x_col, y_col, bits, file_bits)
        .groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (F.max("xl") - F.min("xl")).cast("long").alias("x_span"),
            (F.max("yl") - F.min("yl")).cast("long").alias("y_span"),
        )
        .orderBy("layout", "file_id")
    )


def _layout_file_frame(
    df: DataFrame, x_col: str, y_col: str, bits: int, file_bits: int
) -> DataFrame:
    """Shared normalize + simulate-files stage of the layout family:
    ``(layout, file_id, xl, yl)`` per row for BOTH layouts ('zorder'
    buckets by the interleave's top bits, 'single' by y's) — the
    frame :func:`zorder_layout_report` (q205) aggregates to spans and
    :func:`pruning_effectiveness` (q232) aggregates to min/max for
    predicate skip tests. Normalization runs in DECIMAL(38,0) (see
    the report's overflow note)."""
    m = 1 << bits
    bounds = df.agg(
        F.min(F.col(x_col).cast("long")).alias("__xlo"),
        F.max(F.col(x_col).cast("long")).alias("__xhi"),
        F.min(F.col(y_col).cast("long")).alias("__ylo"),
        F.max(F.col(y_col).cast("long")).alias("__yhi"),
    )
    norm = df.select(
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
    ).crossJoin(F.broadcast(bounds)).selectExpr(
        f"CAST((CAST(__x AS DECIMAL(38,0)) - __xlo) * {m}"
        " div (CAST(__xhi AS DECIMAL(38,0)) - __xlo + 1) AS BIGINT) AS xl",
        f"CAST((CAST(__y AS DECIMAL(38,0)) - __ylo) * {m}"
        " div (CAST(__yhi AS DECIMAL(38,0)) - __ylo + 1) AS BIGINT) AS yl",
    )
    from maston_spark.partitioning import morton_interleave

    z = morton_interleave([F.col("xl"), F.col("yl")], bits)
    # ONE corpus scan for both layouts: a union of two projections of
    # the same frame recomputes the scan per branch (measured: the
    # pruning query paid 2 scans); an inline explode of a 2-struct
    # array emits both layout rows from one pass instead
    both = F.explode(
        F.array(
            F.struct(
                F.lit("zorder").alias("layout"),
                F.shiftright(z, 2 * bits - file_bits)
                .cast("int")
                .alias("file_id"),
            ),
            F.struct(
                F.lit("single").alias("layout"),
                F.shiftright(F.col("yl"), bits - file_bits)
                .cast("int")
                .alias("file_id"),
            ),
        )
    )
    return norm.select(both.alias("__lf"), "xl", "yl").select(
        F.col("__lf.layout").alias("layout"),
        F.col("__lf.file_id").alias("file_id"),
        "xl",
        "yl",
    )


def pruning_effectiveness(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    file_bits: int = 5,
    n_predicates: int = 8,
) -> DataFrame:
    """Measured file-SKIP rates per layout — the decision number the
    span report (q205) only implies: for a fixed grid of
    ``n_predicates`` equal-width range predicates on EACH dimension,
    how many of the 2^file_bits simulated files can min/max stats
    prune — ``(layout, pred_dim, n_predicates, n_files,
    prunable_file_checks, prune_frac)``. A file is prunable for a
    predicate iff the predicate's [lo, hi) window misses the file's
    [min, max] — exactly the footer-stats test a lakehouse scan
    performs. The headline: z-order prunes on BOTH dimensions;
    single-column sort prunes only its own.

    Scale shape: one pass builds per-file min/max (2·2^file_bits
    rows); the predicate grid is a broadcast ``n_predicates``-row
    frame; everything after is metadata-sized."""
    m = 1 << bits
    files = (
        _layout_file_frame(df, x_col, y_col, bits, file_bits)
        .groupBy("layout", "file_id")
        .agg(
            F.min("xl").alias("x_min"),
            F.max("xl").alias("x_max"),
            F.min("yl").alias("y_min"),
            F.max("yl").alias("y_max"),
        )
    )
    spark = df.sparkSession
    width = m // n_predicates
    preds = spark.range(n_predicates).select(
        (F.col("id") * width).alias("p_lo"),
        ((F.col("id") + 1) * width).alias("p_hi"),
    )
    both = files.crossJoin(F.broadcast(preds))
    out = []
    for dim, mn, mx in (("x", "x_min", "x_max"), ("y", "y_min", "y_max")):
        prunable = (F.col(mx) < F.col("p_lo")) | (F.col(mn) >= F.col("p_hi"))
        out.append(
            both.groupBy("layout")
            .agg(
                F.countDistinct("file_id").cast("long").alias("n_files"),
                F.sum(prunable.cast("long")).cast("long").alias(
                    "prunable_file_checks"
                ),
                F.count(F.lit(1)).alias("__checks"),
            )
            .select(
                "layout",
                F.lit(dim).alias("pred_dim"),
                F.lit(n_predicates).cast("long").alias("n_predicates"),
                "n_files",
                "prunable_file_checks",
                F.round(
                    F.col("prunable_file_checks") / F.col("__checks"), 6
                ).alias("prune_frac"),
            )
        )
    return out[0].unionByName(out[1]).orderBy("layout", "pred_dim")


def scd2_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Build a Slowly-Changing-Dimension TYPE 2 history table from a
    change log: one validity interval per value RUN —
    ``(key, state, valid_from_us, valid_to_us, is_current)`` with
    half-open microsecond intervals (``valid_to_us`` NULL on the
    current row). The temporal-table CONSTRUCTION half of the CDC
    family: :func:`cdc_apply` (q143) replays a log into the latest
    snapshot, this builds the full point-in-time history that an
    as-of join (q12) then queries — the dimension-table shape every
    warehouse keeps for "what was this customer's tier on March 3".

    Gaps-and-islands run collapse: a row opens a new version iff its
    value IS DISTINCT FROM its immediate predecessor's (null-safe, so
    NULL states form runs too); ``valid_to`` is the next version's
    ``valid_from``. Deterministic under timestamp ties via the
    ``tiebreak_col`` total order.

    Plan at scale: ONE hash shuffle on the key serves all three
    window passes (lag for change detection, lead for interval
    close — same partitioning and compatible ordering, so the sort
    is reused); no joins, no second exchange. Timestamps are emitted
    as epoch MICROSECONDS (exact int64 — cross-engine timestamp
    RENDERING is a hash hazard, integer microseconds are not)."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    prev = F.lag(F.col(value_col)).over(w)
    marked = df.select(
        F.col(key_col),
        F.col(value_col),
        # TIMESTAMP_NTZ won't feed unix_micros directly — hop through
        # TIMESTAMP (identity under the session's pinned UTC)
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("__us"),
        F.col(tiebreak_col).alias("__tb"),
        (~F.col(value_col).eqNullSafe(prev) | F.lag(F.lit(1)).over(w).isNull()).alias(
            "__open"
        ),
    )
    runs = marked.filter(F.col("__open"))
    w2 = Window.partitionBy(key_col).orderBy("__us", "__tb")
    return runs.select(
        F.col(key_col),
        F.col(value_col).alias("state"),
        F.col("__us").alias("valid_from_us"),
        F.lead("__us").over(w2).alias("valid_to_us"),
        F.lead("__us").over(w2).isNull().alias("is_current"),
    )


_SALTED_JOIN_TYPES = {
    "inner",
    "left",
    "left_outer",
    "leftouter",
    "left_semi",
    "leftsemi",
    "left_anti",
    "leftanti",
}


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-defeating equi-join: the big (skewed) ``left`` side gets
    a per-row salt in ``[0, n_salts)``; the smaller ``right`` side
    replicates each row ``n_salts`` times (posexplode of a constant
    array — no Python); the join key becomes ``(on, salt)``,
    splitting every hot key's rows across n_salts tasks. The RESULT
    is exactly the plain join (salting is a partitioning trick, not
    a semantics change — q207 grades that identity against the
    unsalted oracle). The "act" half of the :func:`key_skew_report`
    diagnostic (q129): when one key carries far above 1/tasks of the
    rows and the right side is too big to broadcast, AQE's skew-join
    split handles moderate skew at runtime; explicit salting is the
    deterministic heavy hammer for the "one key is half the table"
    regime and for non-AQE engines.

    Only LEFT-preserving join types are supported (``inner``,
    ``left``/``left_outer``, ``left_semi``, ``left_anti``): each left
    row carries exactly one salt, so it matches (or misses) exactly
    the one right replica carrying that salt — multiplicity is
    unchanged. ``right``/``full`` would emit each UNMATCHED right row
    once per replica (n_salts copies instead of one); flip the sides
    (salting is asymmetric by design) or keep outer joins unsalted.

    The salt mixes the row content with a per-row disambiguator:
    ``pmod(xxhash64(<left columns>, monotonically_increasing_id()),
    n_salts)``. Content alone degenerates exactly where salting
    matters most — when a hot key's rows are IDENTICAL (a key-only
    projection, a deduplicated fact, repeated events), a pure
    content hash sends every occurrence to ONE salt and the hot key
    still lands in a single task while every query pays the
    n_salts× replication. The id term splits identical rows evenly;
    it is partition-layout-dependent, which is safe here because the
    join output is salt-INVARIANT (each row matches the same right
    partner whatever its salt — certified by q207 and the
    repartition-identity test)."""
    if how not in _SALTED_JOIN_TYPES:
        raise ValueError(
            f"salted_join supports {sorted(_SALTED_JOIN_TYPES)}; got {how!r} — "
            "right/full would duplicate unmatched right rows n_salts times "
            "(swap the sides instead: salting is left-side-specific)"
        )
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
    rj = right.select(
        "*",
        F.posexplode(F.array(*[F.lit(i) for i in range(n_salts)])).alias(
            "__pos", "__salt"
        ),
    ).drop("__pos")
    out = lj.join(rj, [on, "__salt"], how).drop("__salt")
    return out


def pattern_corr_topk(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    pattern: "Sequence[float]",
    k: int = 20,
) -> DataFrame:
    """Time-series PATTERN SIMILARITY search: slide a fixed
    m-step query pattern over every key's value series and return
    the top-k windows by Pearson correlation —
    ``(key, start_us, corr)`` — the distributed matrix-profile-lite
    behind "find me every place the metric did THIS shape" (EDBT'19
    streaming time-series similarity family; UCR-suite z-normalized
    matching reduced to its correlation core).

    Cross-engine bit-parity by construction: windows come from
    ``lead`` columns (one hash shuffle per key, deterministic
    (ts, tiebreak) order), and every sum in the correlation is an
    EXPLICIT m-term left-associated expression tree — the engines
    evaluate the identical IEEE operation sequence, so no summation
    -order divergence exists to round away (the same discipline as
    the engine's fixed-order dot products). Zero-variance windows
    (den = 0) are excluded in both engines. Scale shape: the corpus
    shuffles ONCE on the key; each window is a pure projection over
    m lead columns; the global top-k is a TakeOrdered, never a full
    sort.
    """
    m = len(pattern)
    if m < 2:
        raise ValueError("pattern needs >= 2 steps")
    p = [float(v) for v in pattern]
    sp = 0.0
    spp = 0.0
    for v in p:  # fixed left-to-right fold, mirrored in the oracle
        sp += v
        spp += v * v
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    cols = [F.col(value_col).alias("w0")] + [
        F.lead(value_col, i).over(w).alias(f"w{i}") for i in range(1, m)
    ]
    base = df.select(
        F.col(key_col),
        F.unix_micros(F.col(ts_col).cast("timestamp")).alias("start_us"),
        *cols,
    ).filter(F.col(f"w{m-1}").isNotNull())

    def chain(terms):
        e = terms[0]
        for t in terms[1:]:
            e = e + t
        return e

    sx = chain([F.col(f"w{i}") for i in range(m)])
    sxx = chain([F.col(f"w{i}") * F.col(f"w{i}") for i in range(m)])
    sxy = chain([F.col(f"w{i}") * F.lit(p[i]) for i in range(m)])
    num = F.lit(float(m)) * sxy - sx * F.lit(sp)
    den = F.sqrt(
        (F.lit(float(m)) * sxx - sx * sx)
        * F.lit(float(m) * spp - sp * sp)
    )
    scored = base.select(
        F.col(key_col),
        "start_us",
        F.when(den > 0, F.round(num / den, 6)).alias("corr"),
    ).filter(F.col("corr").isNotNull())
    return scored.orderBy(
        F.desc("corr"), F.asc(key_col), F.asc("start_us")
    ).limit(k)


def compaction_plan(
    files: DataFrame,
    id_col: str,
    size_col: str,
    target: int,
) -> DataFrame:
    """Small-file COMPACTION plan (the lakehouse ``OPTIMIZE`` /
    bin-packing step): assign files to output groups of ~``target``
    total size — ``(group_id, n_files, total_size, max_file)`` per
    planned group. Method: order files by (size desc, id), running
    prefix sum, ``group = floor((cumsum − size) / target)`` — the
    "next-fit by running sum" pack whose every group total is ≤
    target + its largest member (size-desc order makes the overshoot
    the SMALLEST possible for a next-fit family plan), fully
    deterministic and exact-integer, so the planner itself is
    oracle-gradeable (a greedy first-fit-decreasing would pack
    marginally tighter but is inherently sequential state — wrong
    trade for a plan that must be reproducible across engines).

    Scale shape: the input is FILE METADATA (a manifest listing),
    but a 100 TB table's manifest is itself MILLIONS of rows — a
    partition-less ``sum() OVER (ORDER BY ...)`` window would pull
    all of them through one task. The running sum is therefore the
    TWO-PHASE distributed prefix (the :func:`global_rank` /
    budget_select pattern): range-repartition on (size desc, id) +
    sort within partitions (pinned persist so both phases see the
    same boundaries), a |partitions|-row per-partition size total
    folded on the driver into exclusive prefix offsets, then one
    Arrow-batched ``mapInPandas`` emits ``offset[pid] + local
    cumsum`` — no Window node anywhere in the plan (plan-pinned).
    The output is |groups| rows."""
    from maston_spark.caching import scoped_persist

    p = files.sparkSession.sparkContext.defaultParallelism
    s = F.col(size_col).cast("long")
    ordered = scoped_persist(
        # NULL sizes dropped up front: the old window form emitted a
        # NULL group for them (unplannable files); mapInPandas would
        # instead crash in to_numpy — filtering matches "skip what we
        # can't pack" and keeps the cumsum pure-int64
        files.filter(s.isNotNull())
        .select(F.col(id_col).alias("__id"), s.alias("__sz"))
        .repartitionByRange(p, F.col("__sz").desc(), F.col("__id").asc())
        .sortWithinPartitions(F.col("__sz").desc(), F.col("__id").asc())
        .withColumn("__pid", F.spark_partition_id())
    )
    sums = {
        r["__pid"]: int(r["s"])
        for r in ordered.groupBy("__pid").agg(F.sum("__sz").alias("s")).collect()
    }
    offsets: "dict[int, int]" = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [StructField("__sz", LongType()), StructField("group_id", LongType())]
    )
    tgt = int(target)

    def assign(batches):
        run = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = offsets[int(pdf["__pid"].iloc[0])]
            sz = pdf["__sz"].to_numpy(dtype="int64")
            cum = run + sz.cumsum()
            run = int(cum[-1])
            out = pdf[["__sz"]].copy()
            # floor((cum − size) / target): nonneg operands, so int
            # floordiv == the old window formulation exactly
            out["group_id"] = (cum - sz) // tgt
            yield out

    planned = ordered.mapInPandas(assign, out_schema)
    return (
        planned.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("__sz").cast("long").alias("total_size"),
            F.max("__sz").cast("long").alias("max_file"),
        )
        .orderBy("group_id")
    )


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    top_k: int = 20,
    max_basket_size: int = 1024,
) -> DataFrame:
    """Frequent co-occurring item PAIRS (the Apriori/market-basket
    2-itemset census, Agrawal & Srikant 1994): the top-k
    ``(item_a, item_b, support)`` pairs by the number of distinct
    baskets containing BOTH items, with ``item_a < item_b``
    canonical ordering and support ≥ ``min_support``. The
    "which token types / sources / categories travel together"
    question a mixture planner asks before building composite
    filters.

    Scale shape: pair generation is a SELF-JOIN ON THE BASKET KEY of
    the deduplicated (basket, item) table — per-basket work is
    C(|basket|, 2), bounded by the basket size, never corpus². The
    quadratic hazard is a pathological giant basket (the market-
    basket analogue of exact_jaccard_simjoin's hot shingle), so
    baskets larger than ``max_basket_size`` are EXCLUDED up front
    (one combiner-reduced size aggregation; the cutoff is part of
    the operator's deterministic contract — a 10⁶-item basket
    contributes 10¹² pairs and no meaningful signal). The global
    top-k is a TakeOrdered, never a full sort."""
    items = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    sizes = items.groupBy("__b").agg(F.count(F.lit(1)).alias("__sz"))
    bounded = items.join(
        sizes.filter(F.col("__sz") <= max_basket_size).select("__b"), "__b"
    )
    a = bounded.select("__b", F.col("__i").alias("item_a"))
    b = bounded.select("__b", F.col("__i").alias("item_b"))
    return (
        a.join(b, "__b")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= F.lit(min_support))
        .orderBy(F.desc("support"), F.asc("item_a"), F.asc("item_b"))
        .limit(top_k)
    )


def trimmed_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    trim: float = 0.1,
) -> DataFrame:
    """Trimmed and winsorized means per group —
    ``(group, n_rows, n_kept, trimmed_mean, winsorized_mean)`` with
    the bottom/top ``floor(n·trim)`` order statistics dropped
    (trimmed) or clamped to the kept boundary values (winsorized) —
    the robust-location family member next to
    :func:`robust_outlier_stats`' median/MAD: the mean a metrics
    pipeline should report when a handful of wild rows (bot traffic,
    unit errors) would otherwise own the average.

    Exact order-statistics construction — the VALUE-HISTOGRAM shape
    of :func:`exact_percentiles`, not a per-row rank window (a
    ``row_number`` over each group pulls the group's full corpus
    through one task; measured 8× at 10× data before this rewrite,
    flat after): ``groupBy(group, value).count()`` combiner-reduces
    the corpus to distinct values, one cumulative window per group
    runs over that histogram, each value's KEPT multiplicity is the
    exact interval overlap ``max(0, min(cum, hi) − max(cum−c, lo))``
    with cut ranks ``lo = floor(n·trim)``, ``hi = n − lo``, and the
    boundary values come from min-when flag picks. Winsorized
    reconstruction ``sum_kept + lo·v_lo + lo·v_hi``; sums round to
    the 9-grid before the closing division (the engine's avg
    discipline). ``trim`` must be < 0.5. Same bounded-distinct
    precondition as exact_percentiles for continuous columns."""
    if not 0 <= trim < 0.5:
        raise ValueError("trim must be in [0, 0.5)")
    g = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, F.col(value_col).alias("__v"))
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy(group_col).orderBy("__v")
    cum = F.sum("__c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.sum("__c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    g2 = g.select(
        group_col, "__v", "__c", cum.alias("__cum"), n.alias("__n")
    )
    lo = F.floor(F.col("__n") * F.lit(float(trim))).cast("long")
    hi = F.col("__n") - lo
    pre = F.col("__cum") - F.col("__c")
    kept_c = F.greatest(
        F.lit(0).cast("long"),
        F.least(F.col("__cum"), hi) - F.greatest(pre, lo),
    )
    agg = g2.groupBy(group_col).agg(
        F.max("__n").cast("long").alias("n_rows"),
        F.sum(kept_c).cast("long").alias("n_kept"),
        F.round(F.sum(F.col("__v") * kept_c), 9).alias("__sk"),
        F.min(F.when((pre <= lo) & (lo < F.col("__cum")), F.col("__v"))).alias(
            "__vlo"
        ),
        F.min(
            F.when((pre < hi) & (hi <= F.col("__cum")), F.col("__v"))
        ).alias("__vhi"),
        F.max(lo).cast("long").alias("__lo"),
    )
    return agg.select(
        group_col,
        "n_rows",
        "n_kept",
        F.round(F.col("__sk") / F.col("n_kept"), 6).alias("trimmed_mean"),
        F.round(
            (
                F.col("__sk")
                + F.col("__lo") * F.col("__vlo")
                + F.col("__lo") * F.col("__vhi")
            )
            / F.col("n_rows"),
            6,
        ).alias("winsorized_mean"),
    )


def transition_lift(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    event_col: str,
    tiebreak_col: str,
    min_support: int = 2,
    top_k: int = 20,
) -> DataFrame:
    """Event-transition association strength: for every observed
    consecutive pair (a → b) within a key's time-ordered stream —
    ``(event_a, event_b, n_ab, confidence, lift)`` — where
    ``confidence = P(b follows | a)`` and ``lift`` compares the
    transition rate against what independent marginals would produce
    (``lift = n_ab·N / (n_a→ · n_→b)``; > 1 means a genuinely leads
    to b). The association-rule confidence/lift physics (Agrawal &
    Srikant 1994) applied to SEQUENCES — q110 counts raw paths, q222
    counts unordered co-occurrence; this scores directed adjacency
    against independence.

    Exactness: all marginals are int64 counts off the one transition
    table; lift cross-multiplies integers with a single closing IEEE
    division (round 6), confidence one exact ratio. Scale shape: one
    hash shuffle on the key for the lead window, one combiner-reduced
    pair count (≤ |events|² rows), marginals derived from the pair
    table, top-k a TakeOrdered. Ties break (lift desc, a, b)."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    # NULL keys must not share one window partition (lead() would
    # fabricate transitions between unrelated anonymous rows), and a
    # NULL ts sorts NULLS FIRST in Spark but NULLS LAST in DuckDB —
    # drop both, the library's null convention
    pairs = (
        df.filter(
            F.col(event_col).isNotNull()
            & F.col(key_col).isNotNull()
            & F.col(ts_col).isNotNull()
        )
        .select(
            F.col(event_col).alias("event_a"),
            F.lead(event_col).over(w).alias("event_b"),
        )
        .filter(F.col("event_b").isNotNull())
        .groupBy("event_a", "event_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    out_m = pairs.groupBy("event_a").agg(F.sum("n_ab").alias("__na"))
    in_m = pairs.groupBy("event_b").agg(F.sum("n_ab").alias("__nb"))
    tot = pairs.agg(F.sum("n_ab").alias("__n"))
    dec = "decimal(38,0)"
    j = (
        pairs.join(F.broadcast(out_m), "event_a")
        .join(F.broadcast(in_m), "event_b")
        .join(F.broadcast(tot))
    )
    lift = (
        F.col("n_ab").cast(dec) * F.col("__n").cast(dec)
    ).cast("double") / (
        F.col("__na").cast(dec) * F.col("__nb").cast(dec)
    ).cast("double")
    return (
        j.filter(F.col("n_ab") >= F.lit(min_support))
        .select(
            "event_a",
            "event_b",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") / F.col("__na").cast("double"), 6
            ).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("event_a"), F.asc("event_b"))
        .limit(top_k)
    )


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    m: int = 1 << 20,
    n_hashes: int = 2,
) -> DataFrame:
    """Semi-join reduction: inner-join ``fact`` to ``dim`` after
    pre-filtering the fact side through a fixed-size Bloom filter of
    the dim keys — the runtime-filter pattern (Bloom 1970; the
    explicit form of Spark 3.3's `spark.sql.optimizer.runtime.
    bloomFilter.enabled`, owned by the operator so it applies even
    when the optimizer's heuristics decline). The RESULT is
    bit-identical to the plain join: the Bloom filter has zero false
    negatives, and false positives are dropped by the real join —
    only the SHUFFLE gets cheaper, never the answer.

    100 TB shape: the filter build collapses the dim's keys to an
    m-bit bitmap via per-task numpy folds (driver traffic
    n_tasks·m/8 bytes, independent of dim size); the probe is a JVM
    bit test over the fact scan
    (:func:`maston_spark.llm.dedup.bloom_bit_test`), so fact rows
    whose key cannot match never enter the join shuffle. With a 1%
    -selective dim, the fact-side shuffle write drops ~99%·(1−fpr).
    Size m for the dim's key cardinality: fpr ≈
    (n_hashes·n_keys/m)^n_hashes. ``m`` must be a positive multiple
    of 8 with m/8 at most 4 MiB (``ValueError`` otherwise, before any
    job runs).

    Keys hash as their STRING form on both sides (xxhash64 seeded
    with the hash index, no text canonicalization on join keys).
    When the two key columns have DIFFERENT types, both sides are
    first cast to the type the join itself would coerce them to
    (resolved via Catalyst's own when/otherwise coercion on a
    zero-row probe) — otherwise type-divergent string forms (e.g.
    decimal(18,2) ``'1.00'`` vs bigint ``'1'``) would produce Bloom
    false NEGATIVES and silently drop rows the plain join matches,
    violating the bit-identity contract. Keys with no common type
    raise. NULL fact keys are dropped (inner-join semantics)."""
    from maston_spark.llm.dedup import bloom_bit_test, fold_positions_bitmap

    f_type = fact.schema[fact_key].dataType
    d_type = dim.schema[dim_key].dataType
    if f_type == d_type:
        fact_hash_col = F.col(fact_key)
        dim_hash_col = F.col(dim_key)
    else:
        # let Catalyst name the coerced type: when/otherwise applies
        # the same implicit-cast resolution a join condition gets
        try:
            probe = fact.sparkSession.range(1).select(
                F.when(
                    F.lit(True), F.lit(None).cast(f_type)
                ).otherwise(F.lit(None).cast(d_type)).alias("__k")
            )
            common = probe.schema["__k"].dataType
        except Exception as exc:  # no common type → the join would fail too
            raise ValueError(
                f"bloom_pruned_join: no common type for {fact_key} "
                f"({f_type.simpleString()}) vs {dim_key} "
                f"({d_type.simpleString()})"
            ) from exc
        fact_hash_col = F.col(fact_key).cast(common)
        dim_hash_col = F.col(dim_key).cast(common)

    dk = dim_hash_col.cast("string")
    fk = fact_hash_col.cast("string")

    # positions from native xxhash64, not md5 digests: the md5 passes
    # dominated the probe (1.99 s of a 2.85 s query at sf0.1). The hash
    # choice is internal: zero false negatives holds for any hash
    # applied identically to both sides, and false positives wash out
    # in the real join, which the q244 oracle certifies externally.
    def _pos(col_str, i: int):
        return F.pmod(F.xxhash64(col_str, F.lit(i)), F.lit(m)).cast("long")

    # xxhash64 skips a NULL input, so NULL dim keys are dropped first
    pos = dim.filter(dk.isNotNull()).select(
        F.explode(F.array(*[_pos(dk, i) for i in range(n_hashes)])).alias("pos")
    )
    bitmap = fold_positions_bitmap(pos, m)
    pruned = fact.filter(
        F.col(fact_key).isNotNull()
        & bloom_bit_test(bitmap, [_pos(fk, i) for i in range(n_hashes)])
    )
    if fact_key == dim_key:
        # name-join: one key column out, like the plain on="key" join
        # this operator is a drop-in for (a Column-expression join
        # would keep BOTH copies and every downstream reference to
        # the key would be AMBIGUOUS_REFERENCE)
        return pruned.join(dim, fact_key, "inner")
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], "inner")


def acf(
    df: DataFrame,
    series_col: str,
    order_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function per series at lags 1..``max_lag`` —
    ``(series, lag, n_obs, acf)``: the seasonality/persistence
    fingerprint of a metric series (a spike at lag 7 on daily data =
    weekly rhythm), computed on OBSERVATION INDEX order (the
    ``order_col`` sort within each series; gaps are the caller's
    modeling choice).

    Exact shape: the standard estimator
    ``r_k = Σ_{t≤n−k}(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)²`` is made
    integer by multiplying through by n²:
    ``Σ(n·x_t − S)(n·x_{t+k} − S) / Σ(n·x_t − S)²`` with S = Σx —
    every term exact in decimal(38,0), one closing IEEE division
    (round 6). One hash shuffle on the series key serves the order
    window and both folds; lags materialize as ``max_lag`` lead
    columns unpivoted inline (no self-join, no per-lag pass).
    Values must be integers (pre-grid them for continuous metrics);
    precondition |n·x| < ~1e18 per series. NULL values are dropped
    up front — a NULL row would otherwise count in n (and shift the
    observation index) while contributing nothing to the sums,
    silently skewing every r_k."""
    w = Window.partitionBy(series_col).orderBy(order_col)
    dec = "decimal(38,0)"
    x = F.col(value_col).cast("long")
    df = df.filter(F.col(value_col).isNotNull())
    leads = df.select(
        F.col(series_col).alias("__s"),
        x.alias("__x"),
        *[F.lead(x, k).over(w).alias(f"__l{k}") for k in range(1, max_lag + 1)],
    )
    tot = leads.groupBy("__s").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").cast("long").alias("__sum"),
        # denominator sum over ALL t needs n and S; folded after join
    )
    j = leads.join(tot, "__s")
    nd = F.col("__n").cast(dec)
    dev = (nd * F.col("__x").cast(dec)) - F.col("__sum").cast(dec)
    lag_terms = j.select(
        "__s",
        "__n",
        dev.alias("__d"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("__k"),
                        F.col(f"__l{k}").cast("long").alias("__xl"),
                    )
                    for k in range(1, max_lag + 1)
                ]
            )
        ).alias("__e"),
        F.col("__sum"),
    ).select(
        "__s",
        "__n",
        "__d",
        F.col("__e.__k").alias("__k"),
        (
            (F.col("__n").cast(dec) * F.col("__e.__xl").cast(dec))
            - F.col("__sum").cast(dec)
        ).alias("__dl"),
    )
    num = (
        lag_terms.filter(F.col("__dl").isNotNull())
        .groupBy("__s", "__k")
        .agg(F.sum(F.col("__d") * F.col("__dl")).alias("__num"))
    )
    den = j.select("__s", dev.alias("__d")).groupBy("__s").agg(
        F.sum(F.col("__d") * F.col("__d")).alias("__den")
    )
    out = num.join(den, "__s").join(tot.select("__s", "__n"), "__s")
    return out.select(
        F.col("__s").alias("series"),
        F.col("__k").alias("lag"),
        F.col("__n").alias("n_obs"),
        F.when(
            F.col("__den").cast("double") > 0,
            F.round(
                F.col("__num").cast("double") / F.col("__den").cast("double"), 6
            ),
        ).alias("acf"),
    ).orderBy("series", "lag")


def seasonal_naive_mase(
    df: DataFrame,
    series_col: str,
    order_col: str,
    value_col: str,
    season: int = 7,
) -> DataFrame:
    """Seasonal-naive forecast error per series, scaled as MASE —
    ``(series, n_obs, mae_seasonal, mae_naive1, mase)``: how much
    better is 'same as one season ago' than 'same as yesterday'
    (Hyndman & Koehler 2006's scale-free forecast-accuracy unit;
    MASE < 1 = the seasonal structure is real and a forecaster
    should exploit it).

    Exact shape: one order window per series yields both lags; both
    MAEs are integer |difference| sums (values must be integers —
    pre-grid continuous metrics), and
    ``mase = (Σe_s · (n−1)) / ((n−season) · Σe_1)`` closes as ONE
    division of exact decimal(38,0) cross-products (round 6).
    Series shorter than ``season + 1`` rows emit NULL mase. NULL
    values are dropped up front — they would otherwise count in
    n_obs while the |difference| sums skip them, skewing both MAE
    denominators."""
    w = Window.partitionBy(series_col).orderBy(order_col)
    x = F.col(value_col).cast("long")
    dec = "decimal(38,0)"
    df = df.filter(F.col(value_col).isNotNull())
    lagged = df.select(
        F.col(series_col).alias("__s"),
        x.alias("__x"),
        F.lag(x, 1).over(w).alias("__p1"),
        F.lag(x, season).over(w).alias("__ps"),
    )
    agg = lagged.groupBy("__s").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(F.abs(F.col("__x") - F.col("__ps")).cast(dec)).alias("__es"),
        F.sum(F.abs(F.col("__x") - F.col("__p1")).cast(dec)).alias("__e1"),
    )
    n = F.col("n_obs")
    ok = (n > season) & (F.col("__e1").isNotNull()) & (
        F.col("__e1").cast("double") > 0
    )
    mase = (
        F.col("__es").cast(dec) * (n - 1).cast(dec)
    ).cast("double") / (
        ((n - season).cast(dec) * F.col("__e1").cast(dec)).cast("double")
    )
    return agg.select(
        F.col("__s").alias("series"),
        "n_obs",
        F.when(
            n > season,
            F.round(
                F.col("__es").cast("double") / (n - season).cast("double"), 6
            ),
        ).alias("mae_seasonal"),
        F.when(
            n > 1,
            F.round(F.col("__e1").cast("double") / (n - 1).cast("double"), 6),
        ).alias("mae_naive1"),
        F.when(ok, F.round(mase, 6)).alias("mase"),
    ).orderBy("series")


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    id_col: str,
    value_col: str,
    n_quantiles: int = 10,
) -> DataFrame:
    """Quantile normalization across groups — per (group, quantile)
    the NORMALIZED value at that within-group quantile:
    ``(group, quantile, n_rows, norm_value)``. Each row's value maps
    to the GLOBAL order statistic at its within-group relative rank
    (type-1 / ceil quantile — no interpolation, so every output is
    an actual corpus value and the math is integer-exact): the
    batch-effect correction that forces every group's score
    distribution onto the pooled reference (per-source quality
    scores become comparable before one global threshold gates
    them).

    Scale shape: within-group ranks are one hash-partitioned window;
    the GLOBAL reference ranking is the two-phase
    :func:`global_rank` (no partition-less window over the corpus);
    the value lookup is one equi-join on the integer target index
    ``ceil(r·N/n_g) = (r·N + n_g − 1) div n_g``. The reported rows
    are the ``n_quantiles`` within-group quantile picks, |groups| ×
    n_quantiles of them. Ties break by (value, group, id) — a total
    order, deterministic in both engines."""
    base = df.filter(
        F.col(value_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__i"),
        F.col(value_col).alias("__v"),
    )
    wg = Window.partitionBy("__g").orderBy("__v", "__i")
    ranked_g = base.select(
        "__g", "__v", F.row_number().over(wg).alias("__r")
    )
    sizes = ranked_g.groupBy("__g").agg(F.max("__r").cast("long").alias("__ng"))
    glob = global_rank(
        base.select("__v", "__g", "__i"),
        [F.col("__v"), F.col("__g"), F.col("__i")],
        rank_col="__grk",
    ).select(F.col("__v").alias("__ref"), "__grk")
    n_tot = glob.agg(F.count(F.lit(1)).cast("long").alias("__nn"))
    # the n_quantiles within-group pick indices, off the bounded sizes frame
    picks = (
        sizes.select(
            "__g",
            "__ng",
            F.explode(
                F.array(*[F.lit(q) for q in range(1, n_quantiles + 1)])
            ).alias("__q"),
        )
        .select(
            "__g",
            "__ng",
            "__q",
            # exact int64 ceil-division (`div`, never the double `/`:
            # past 2^53 a double quotient can truncate one off)
            F.expr(
                f"(__q * __ng + {n_quantiles - 1}) div {n_quantiles}"
            ).alias("__ri"),
        )
    )
    rg2 = ranked_g.select(
        F.col("__g").alias("__g2"), F.col("__r").alias("__r2")
    )
    picked = picks.join(
        rg2,
        (picks["__g"] == rg2["__g2"]) & (picks["__ri"] == rg2["__r2"]),
    ).select("__g", "__q", "__ng", F.col("__r2").alias("__r"))
    tgt = picked.join(F.broadcast(n_tot)).select(
        "__g",
        "__q",
        "__ng",
        # r*N can pass int64 at corpus scale -> widen to decimal(38,0)
        # before the exact integral `div`
        F.expr(
            "(CAST(__r AS DECIMAL(38,0)) * __nn + __ng - 1) div __ng"
        ).cast("long").alias("__ti"),
    )
    out = tgt.join(glob, tgt["__ti"] == glob["__grk"])
    return out.select(
        F.col("__g").alias("group"),
        F.col("__q").alias("quantile"),
        F.col("__ng").alias("n_rows"),
        F.col("__ref").alias("norm_value"),
    ).orderBy("group", "quantile")


def grid_radius_join(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    radius: int,
) -> DataFrame:
    """All point pairs within ``radius`` (Euclidean, INTEGER planar
    coordinates) — ``(id_a, id_b, dist_sq)`` with ``id_a < id_b`` —
    via grid-cell blocking: the spatial self-join that never goes
    all-pairs. Each point keys by its ``radius``-sized grid cell;
    the left side stamps the 3×3 neighborhood, the right side keeps
    its own cell, so every qualifying pair meets on EXACTLY one key
    (the right point's cell — no post-join dedup) and candidate
    count is bounded by local density, not n². Distance compares are
    exact int64 (precondition: |coordinate| < ~2³⁰ so Δ² sums fit);
    there is no floating point anywhere.

    100 TB shape: one equi-join on the cell key (hash shuffle both
    sides, the stamped side 9×); a hot cell (skewed density) is a
    bounded 9-cell neighborhood problem, the same Σdf² contract as
    the exact sim-join family."""
    cx = F.floor(F.col(x_col) / F.lit(radius)).cast("long")
    cy = F.floor(F.col(y_col) / F.lit(radius)).cast("long")
    base = points.filter(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(id_col).alias("__i"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
        cx.alias("__cx"),
        cy.alias("__cy"),
    )
    stamped = base.select(
        F.col("__i").alias("__ia"),
        F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("__cx") + dx).alias("__kx"),
                        (F.col("__cy") + dy).alias("__ky"),
                    )
                    for dx in (-1, 0, 1)
                    for dy in (-1, 0, 1)
                ]
            )
        ).alias("__c"),
    ).select("__ia", "__xa", "__ya", "__c.__kx", "__c.__ky")
    right = base.select(
        F.col("__i").alias("__ib"),
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
        F.col("__cx").alias("__kx"),
        F.col("__cy").alias("__ky"),
    )
    dx = F.col("__xa") - F.col("__xb")
    dy = F.col("__ya") - F.col("__yb")
    d2 = dx * dx + dy * dy
    return (
        stamped.join(right, ["__kx", "__ky"])
        .filter(
            (F.col("__ia") < F.col("__ib"))
            & (d2 <= F.lit(radius).cast("long") * F.lit(radius).cast("long"))
        )
        .select(
            F.col("__ia").alias("id_a"),
            F.col("__ib").alias("id_b"),
            d2.alias("dist_sq"),
        )
        .orderBy("dist_sq", "id_a", "id_b")
    )


# Bounded-entity contract ceiling for the theil_sen pair kernel: a
# group materializes n_g(n_g-1)/2 pair lanes inside one task, so
# 16384 rows (~1.3e8 pairs, ~2 GB transient) is the hard bound past
# which the kernel raises instead of OOMing (round-17 ADVICE).
_PAIR_GROUP_MAX_ROWS = 16384


def theil_sen_slope(
    df: DataFrame,
    group_col: str,
    id_col: str,
    x_col: str,
    y_col: str,
    min_rows: int = 5,
) -> DataFrame:
    """Theil-Sen robust slope per group — ``(group, n_rows, n_pairs,
    slope, intercept)``: the median of all pairwise slopes
    (Theil 1950, Sen 1968), the trend estimate a single outlier
    can't drag (breakdown point ~29%, vs 0 for :func:`group_trend`'s
    least squares). ``intercept`` is the median of ``y − slope·x``
    (the standard completion).

    Exact shape: the within-group pair join is the bounded-entity
    all-pairs contract (Σn_g² by design — per-user sequences, never
    the corpus as one group); each pair's slope is ONE
    correctly-rounded IEEE division of integer 6-grid lane
    differences (equal rationals produce identical doubles in both
    engines), and both medians are TYPE-1 order statistics (index
    ``(m+1) div 2`` — never the midpoint average whose half-sum
    could land on a rounding boundary), picked by a rank window over
    the per-group pair set with a (slope, id, id) total order.
    Groups below ``min_rows`` drop; a group with zero x-variance
    (every pair vertical → no defined pairwise slope) emits
    ``(group, n_rows, 0, NULL, NULL)`` — it met the row threshold,
    so silence would read as "below threshold" rather than "no
    trend is estimable"."""
    xi = F.round(
        F.round(F.col(x_col).cast("double"), 6) * F.lit(1000000), 0
    ).cast("long")
    yi = F.round(
        F.round(F.col(y_col).cast("double"), 6) * F.lit(1000000), 0
    ).cast("long")
    base = df.filter(
        F.col(x_col).isNotNull()
        & F.col(y_col).isNotNull()
        & F.col(group_col).isNotNull()
    ).select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__i"),
        xi.alias("__x"),
        yi.alias("__y"),
    )
    from maston_spark.caching import scoped_persist

    counts = base.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    big = counts.filter(F.col("n_rows") >= min_rows)
    # two consumers (the pair-median kernel + the residual pass) —
    # persist so the scan+filter+join pipeline runs once
    kept = scoped_persist(base.join(F.broadcast(big.select("__g")), "__g"))
    # the pair's slope is the rational p/q with q NORMALIZED positive
    # (flip both signs when x decreases) so downstream residual ORDER
    # can run on exact integers; the double __s exists only as a sort
    # key and the reported value (correctly rounded from the same
    # rational in both engines).
    #
    # Round-16 optimization (guide §1.2 step 1 — the kendall_tau
    # discipline): the Σn_g² pair mass is generated and median-picked
    # inside a streaming numpy kernel over group-sorted rows instead
    # of a within-group self-join + rank window that materialized
    # 3.3M seven-column JVM rows at sf0.1. Exactness is unchanged:
    # the 6-grid lane differences are exact int64 (|Δ| < 2³¹·10⁶),
    # the slope is the SAME IEEE division (y2−y1)/(x2−x1) of exactly
    # representable integers the JVM performed, the (s, i1, i2) pick
    # order is replayed by lexsort, and the reported (p, q) rational
    # feeds the unchanged exact-decimal intercept path below.
    def _pair_median(batches):
        import numpy as np
        import pandas as pd

        def close(g, ids, x, y):
            if len(ids) > _PAIR_GROUP_MAX_ROWS:
                # round-17 ADVICE: the former self-join streamed the
                # Σn_g² pair mass; the kernel materializes it — a
                # contract-violating giant group must fail with a
                # diagnosis, not OOM the Python worker
                raise ValueError(
                    "theil_sen: group "
                    f"{g!r} has {len(ids)} rows — past the "
                    f"{_PAIR_GROUP_MAX_ROWS}-row bounded-entity "
                    "contract (Σn_g² pairs are materialized per group)"
                )
            order = np.argsort(ids, kind="mergesort")
            ids, x, y = ids[order], x[order], y[order]
            r, c = np.triu_indices(len(ids), k=1)  # ids[r] <= ids[c]
            # equal-id pairs drop — the former join's __i1 < __i2
            # filter exactly (round-17 ADVICE)
            valid = (x[r] != x[c]) & (ids[r] != ids[c])
            if not valid.any():
                return None
            r, c = r[valid], c[valid]
            p_raw = y[c] - y[r]
            q_raw = x[c] - x[r]
            s = p_raw.astype(np.float64) / q_raw.astype(np.float64)
            pick = np.lexsort((ids[c], ids[r], s))[(len(s) + 1) // 2 - 1]
            neg = q_raw[pick] < 0
            return (
                g,
                len(s),
                float(s[pick]),
                int(-p_raw[pick] if neg else p_raw[pick]),
                int(abs(q_raw[pick])),
            )

        cols = ["__g", "n_pairs", "__slope", "__p", "__q"]
        cur_g, cur_i, cur_x, cur_y = None, [], [], []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            g_np = pdf["__g"].to_numpy()
            i_np = pdf["__i"].to_numpy(dtype=np.int64)
            x_np = pdf["__x"].to_numpy(dtype=np.int64)
            y_np = pdf["__y"].to_numpy(dtype=np.int64)
            starts = np.flatnonzero(np.r_[True, g_np[1:] != g_np[:-1]])
            out = []
            for st, en in zip(starts, np.r_[starts[1:], len(pdf)]):
                g = g_np[st]
                if cur_g is not None and g != cur_g:
                    row = close(
                        cur_g,
                        np.concatenate(cur_i),
                        np.concatenate(cur_x),
                        np.concatenate(cur_y),
                    )
                    if row is not None:
                        out.append(row)
                    cur_i, cur_x, cur_y = [], [], []
                cur_g = g
                cur_i.append(i_np[st:en])
                cur_x.append(x_np[st:en])
                cur_y.append(y_np[st:en])
            if out:
                yield pd.DataFrame(out, columns=cols)
        if cur_g is not None:
            row = close(
                cur_g,
                np.concatenate(cur_i),
                np.concatenate(cur_x),
                np.concatenate(cur_y),
            )
            if row is not None:
                yield pd.DataFrame([row], columns=cols)

    g_type = dict(kept.dtypes)["__g"]
    med = (
        kept.repartition("__g")
        .sortWithinPartitions("__g")
        .mapInPandas(
            _pair_median,
            f"__g {g_type}, n_pairs long, __slope double, __p long, __q long",
        )
    )
    # round-17 ADVICE: THREE consumers (residual join, med2, the
    # pairless anti-join) re-executed the O(Σn_g²) kernel per action —
    # persist the |groups|-row result so the pair mass is generated
    # once (guide §5: tiny frame, expensive recompute)
    med = scoped_persist(med)
    # intercept: type-1 median of y − (p/q)·x, ORDERED and picked in
    # the exact integer domain r_i = q·y_i − p·x_i (q > 0, so integer
    # order == residual order) — a float product here diverged across
    # engines (FMA contraction) at a 6-grid rounding boundary; the
    # one double step left is r_med / (q · 1e6), a correctly-rounded
    # division of exact values
    dec = "decimal(38,0)"
    resid = kept.join(
        F.broadcast(med.select("__g", "__p", "__q")), "__g"
    ).select(
        "__g",
        "__i",
        (
            F.col("__q").cast(dec) * F.col("__y").cast(dec)
            - F.col("__p").cast(dec) * F.col("__x").cast(dec)
        ).alias("__r"),
    )
    wr = Window.partitionBy("__g").orderBy("__r", "__i")
    cnt2 = counts.select(F.col("__g").alias("__gc"), "n_rows")
    icept = (
        resid.select("__g", "__r", F.row_number().over(wr).alias("__rn"))
        .join(F.broadcast(cnt2), F.col("__g") == F.col("__gc"))
        .filter(F.col("__rn") == F.expr("(n_rows + 1) div 2"))
        .select("__g", "__r", "n_rows")
    )
    med2 = med.select(
        F.col("__g").alias("__gm"), "n_pairs", "__slope", F.col("__q").alias("__qm")
    )
    # the 6-dp intercept is rounded on the RATIONAL r/q itself
    # (half-away-from-zero via integral arithmetic — q > 0, operands
    # kept positive so `div` semantics agree across engines): the
    # float quotient can land a hair off an exact grid MIDPOINT and
    # the two engines' round() then disagree by one ulp of the grid
    # (bit at sf0.1)
    micro = F.expr(
        "CASE WHEN __r >= 0 THEN (2 * __r + __qm) div (2 * __qm) "
        "ELSE -((2 * (-__r) + __qm) div (2 * __qm)) END"
    )
    fitted = icept.join(med2, F.col("__g") == F.col("__gm")).select(
        F.col("__g").alias("group"),
        "n_rows",
        "n_pairs",
        F.round(F.col("__slope"), 6).alias("slope"),
        (micro.cast("double") / F.lit(1e6)).alias("intercept"),
    )
    # pair-less groups (zero x-variance at >= min_rows rows): the
    # pair frame is empty so every join above drops them — surface
    # them with NULL estimates instead of silently vanishing
    pairless = big.join(
        med.select("__g"), "__g", "left_anti"
    ).select(
        F.col("__g").alias("group"),
        "n_rows",
        F.lit(0).cast("long").alias("n_pairs"),
        F.lit(None).cast("double").alias("slope"),
        F.lit(None).cast("double").alias("intercept"),
    )
    return fitted.unionByName(pairless).orderBy("group")


def cross_correlation(
    df: DataFrame,
    order_col: str,
    x_col: str,
    y_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Cross-correlation between two aligned integer series at lags
    −``max_lag``..``max_lag`` — ``(lag, n_obs, ccf)`` where positive
    lag correlates x_t with y_{t+k} (x LEADS y by k): does one
    metric's movement foreshadow another's (views → purchases,
    ingest volume → error rate)? The lead/lag structure ACF
    (:func:`acf`) can't see because it only looks within one series.

    Exact shape: one order window yields y's ±K leads/lags unpivoted
    inline; the estimator is made integer by multiplying through by
    n² (``Σ(n·x_t−Sx)(n·y_{t+k}−Sy) / sqrt(Σ(n·x−Sx)²·Σ(n·y−Sy)²)``)
    with all folds exact in decimal(38,0); the close is two
    correctly-rounded doubles, one sqrt, one division (round 6).
    Rows must be the ALIGNED series (one row per time point with
    both values); values integer. The order window is partition-less
    by design — bounded-domain precondition: the input is a BUCKETED
    series (one row per time bucket), never raw events."""
    wo = Window.orderBy(order_col)
    dec = "decimal(38,0)"
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    lags = list(range(-max_lag, max_lag + 1))
    leads = df.select(
        x.alias("__x"),
        y.alias("__y"),
        *[
            (F.lead(y, k).over(wo) if k >= 0 else F.lag(y, -k).over(wo)).alias(
                f"__y_{k + max_lag}"
            )
            for k in lags
        ],
    )
    tot = leads.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").cast("long").alias("__sx"),
        F.sum("__y").cast("long").alias("__sy"),
    )
    j = leads.join(F.broadcast(tot))
    nd = F.col("__n").cast(dec)
    dx = nd * F.col("__x").cast(dec) - F.col("__sx").cast(dec)
    dy0 = nd * F.col("__y").cast(dec) - F.col("__sy").cast(dec)
    terms = j.select(
        "__n",
        dx.alias("__dx"),
        dy0.alias("__dy0"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("__k"),
                        F.col(f"__y_{k + max_lag}").cast("long").alias("__yl"),
                    )
                    for k in lags
                ]
            )
        ).alias("__e"),
        F.col("__sy"),
    ).select(
        "__n",
        "__dx",
        "__dy0",
        F.col("__e.__k").alias("__k"),
        F.when(
            F.col("__e.__yl").isNotNull(),
            nd * F.col("__e.__yl").cast(dec) - F.col("__sy").cast(dec),
        ).alias("__dyl"),
    )
    num = (
        terms.filter(F.col("__dyl").isNotNull())
        .groupBy("__n", "__k")
        .agg(F.sum(F.col("__dx") * F.col("__dyl")).alias("__num"))
    )
    den = terms.filter(F.col("__k") == 0).groupBy("__n").agg(
        F.sum(F.col("__dx") * F.col("__dx")).alias("__dxx"),
        F.sum(F.col("__dy0") * F.col("__dy0")).alias("__dyy"),
    )
    ok = (F.col("__dxx").cast("double") > 0) & (
        F.col("__dyy").cast("double") > 0
    )
    return (
        num.join(F.broadcast(den), "__n")
        .select(
            F.col("__k").alias("lag"),
            F.col("__n").alias("n_obs"),
            F.when(
                ok,
                F.round(
                    F.col("__num").cast("double")
                    / F.sqrt(
                        F.col("__dxx").cast("double")
                        * F.col("__dyy").cast("double")
                    ),
                    6,
                ),
            ).alias("ccf"),
        )
        .orderBy("lag")
    )


def frequent_triples(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    top_k: int = 20,
    max_basket_size: int = 1024,
) -> DataFrame:
    """Frequent 3-itemsets with the Apriori candidate prune
    (Agrawal & Srikant 1994 level 3, the companion to
    :func:`cooccurrence_pairs`' level 2): the top-k
    ``(item_a, item_b, item_c, support)`` triples (``a < b < c``
    canonical) by distinct-basket support ≥ ``min_support`` —
    with every candidate triple required to have ALL THREE of its
    sub-pairs frequent BEFORE the third-item join runs (the
    downward-closure prune that makes level-3 affordable: the
    enumeration touches only frequent-pair occurrences × basket
    items, never C(|basket|, 3) raw triples).

    Scale shape: one deduplicated (basket, item) table (persisted —
    it feeds the pair join and the third-item extension), the same
    ``max_basket_size`` hot-basket exclusion contract as the pair
    census, the frequent-pair set broadcast three ways (one per
    sub-pair test), and a TakeOrdered top-k. All integer counts."""
    from maston_spark.caching import scoped_persist

    items = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    sizes = items.groupBy("__b").agg(F.count(F.lit(1)).alias("__sz"))
    bounded = scoped_persist(
        items.join(
            sizes.filter(F.col("__sz") <= max_basket_size).select("__b"), "__b"
        )
    )
    a = bounded.select("__b", F.col("__i").alias("item_a"))
    b = bounded.select("__b", F.col("__i").alias("item_b"))
    occ2 = a.join(b, "__b").filter(F.col("item_a") < F.col("item_b"))
    f2 = scoped_persist(
        occ2.groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("__s"))
        .filter(F.col("__s") >= F.lit(min_support))
        .select("item_a", "item_b")
    )
    occ2f = occ2.join(F.broadcast(f2), ["item_a", "item_b"])
    third = bounded.select("__b", F.col("__i").alias("item_c"))
    cand = occ2f.join(third, "__b").filter(F.col("item_c") > F.col("item_b"))
    # downward closure: (a, c) and (b, c) must be frequent too
    f_ac = f2.select(
        F.col("item_a"), F.col("item_b").alias("item_c")
    )
    f_bc = f2.select(
        F.col("item_a").alias("item_b"), F.col("item_b").alias("item_c")
    )
    pruned = cand.join(F.broadcast(f_ac), ["item_a", "item_c"]).join(
        F.broadcast(f_bc), ["item_b", "item_c"]
    )
    return (
        pruned.groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= F.lit(min_support))
        .orderBy(
            F.desc("support"), F.asc("item_a"), F.asc("item_b"), F.asc("item_c")
        )
        .limit(top_k)
    )


def interarrival_stats(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    id_col: str,
) -> DataFrame:
    """Inter-arrival-time profile per group — ``(group, n_gaps,
    mean_gap_s, cv2, burstiness)``: is the arrival process steady
    (CV² ≈ 0), Poisson-like (CV² ≈ 1), or BURSTY (CV² > 1)?
    ``burstiness = (σ−μ)/(σ+μ)`` (Goh & Barabási 2008) ∈ (−1, 1) —
    the one-number traffic fingerprint read before sizing stream
    state or rate alarms (a bursty source needs peak capacity, not
    mean).

    Exact shape: one order window per group yields integer
    microsecond gaps; Σd and Σd² fold exact in decimal(38,0) (the
    per-row square is decimal×decimal — a month-scale gap squared
    passes int64); the closing CV² =
    ``n(nΣd² − (Σd)²) / ((n−1)(Σd)²)`` and burstiness are a fixed
    IEEE sequence with one correctly-rounded sqrt (round 6). Groups
    with < 2 gaps or zero total gap emit NULLs."""
    w = Window.partitionBy(group_col).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    dec = "decimal(38,0)"
    gaps = df.select(
        F.col(group_col).alias("__g"),
        (us - F.lag(us).over(w)).alias("__d"),
    ).filter(F.col("__d").isNotNull())
    agg = gaps.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum(F.col("__d").cast(dec)).alias("__sd"),
        F.sum(F.col("__d").cast(dec) * F.col("__d").cast(dec)).alias("__sdd"),
    )
    n = F.col("n_gaps").cast("double")
    sd = F.col("__sd").cast("double")
    sdd = F.col("__sdd").cast("double")
    cv2 = n * (n * sdd - sd * sd) / ((n - F.lit(1.0)) * sd * sd)
    rootcv = F.sqrt(cv2)
    ok = (F.col("n_gaps") >= 2) & (sd > 0)
    return agg.select(
        F.col("__g").alias("group"),
        "n_gaps",
        F.round(sd / n / F.lit(1e6), 6).alias("mean_gap_s"),
        F.when(ok, F.round(cv2, 6)).alias("cv2"),
        F.when(
            ok,
            F.round((rootcv - F.lit(1.0)) / (rootcv + F.lit(1.0)), 6),
        ).alias("burstiness"),
    ).orderBy("group")


def markov_entropy_rate(
    df: DataFrame,
    seq_col: str,
    order_col,
    state_col: str,
) -> DataFrame:
    """First-order Markov entropy rate of a state sequence — one row
    ``(n_transitions, h_rate, h_zero, info_gain)``: how predictable
    is the NEXT state given the current one? ``h_rate =
    −Σₐ p(a)·Σ_b p(b|a)·ln p(b|a)`` over adjacent-pair transitions
    (pooled across sequences), ``h_zero`` the order-0 destination
    entropy, and ``info_gain = h_zero − h_rate`` the nats one step
    of memory buys — the behavioral-predictability number behind
    session models and next-event caches (Shannon 1951's
    predictability framing).

    Exact shape: one lead window per sequence (hash-partitioned)
    emits the transition pairs; ONE contingency aggregation reduces
    them to |states|² cells; every ``n·ln(n/nₐ)`` term is an exact
    integer rational through the log and rounds to the 6-grid before
    the cell-bounded decimal sum (the q248 MI discipline — the
    oracle replays the same grid). NULL states drop. ``order_col``
    may be a list (include a tiebreaker for a total order)."""
    order_cols = order_col if isinstance(order_col, (list, tuple)) else [order_col]
    w = Window.partitionBy(seq_col).orderBy(*order_cols)
    trans = (
        df.filter(F.col(state_col).isNotNull() & F.col(seq_col).isNotNull())
        .select(
            F.col(seq_col).alias("__s"),
            F.col(state_col).cast("string").alias("__a"),
            F.lead(F.col(state_col).cast("string")).over(w).alias("__b"),
        )
        .filter(F.col("__b").isNotNull())
    )
    cells = trans.groupBy("__a", "__b").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    wa = Window.partitionBy("__a")
    dec = "decimal(28,9)"
    withm = cells.select(
        "__n",
        F.sum("__n").over(wa).alias("__na"),
    )
    agg = withm.agg(
        F.sum("__n").cast("long").alias("__N"),
        F.sum(
            F.round(
                F.col("__n").cast("double")
                * F.log(
                    F.col("__n").cast("double") / F.col("__na").cast("double")
                ),
                6,
            ).cast(dec)
        ).alias("__sc"),
    )
    # order-0 destination entropy off the same cells (marginals by b)
    dst = cells.groupBy("__b").agg(F.sum("__n").cast("long").alias("__nb"))
    h0a = dst.agg(
        F.sum("__nb").cast("long").alias("__N0"),
        F.sum(
            F.round(
                F.col("__nb").cast("double")
                * F.log(F.col("__nb").cast("double")),
                6,
            ).cast(dec)
        ).alias("__sb"),
    )
    j = agg.join(F.broadcast(h0a))
    nd = F.col("__N").cast("double")
    h_rate = -(F.col("__sc").cast("double") / nd)
    h_zero = F.log(nd) - F.col("__sb").cast("double") / nd
    return j.select(
        F.col("__N").alias("n_transitions"),
        F.round(h_rate, 6).alias("h_rate"),
        F.round(h_zero, 6).alias("h_zero"),
        F.round(h_zero - h_rate, 6).alias("info_gain"),
    )


def precedence_census(
    df: DataFrame,
    entity_col: str,
    type_col: str,
    ts_col: str,
    min_support: int = 5,
) -> DataFrame:
    """Existential precedence census over event sequences — per
    ordered type pair ``(type_a, type_b, n_entities_a, n_entities_b,
    n_precede, confidence, lift)``: how many entities have SOME
    ``a`` event strictly before SOME ``b`` event (the
    non-contiguous sequential pattern — "signed up … eventually
    purchased", any number of steps apart), with
    ``confidence = n_precede / n_a`` and
    ``lift = n_precede·N / (n_a·n_b)`` against independence. The
    third lens of the sequence family: q110 counts CONTIGUOUS
    3-step paths, q235 scores ADJACENT transitions, this one asks
    the existential ordering question both of those miss when steps
    are separated by noise events.

    Exact shape: "∃ a before b" ⟺ ``min_ts(a) < max_ts(b)`` within
    the entity, so ONE per-(entity, type) min/max aggregation
    (combiner-reduced; the shuffle carries |entities|·|types| rows)
    replaces any pair-of-events scan; the pair meeting is the
    bounded-entity self-join on the entity key (Σ|types_e|² rows —
    |types| is the event vocabulary, bounded by design, never
    traffic). Timestamps compare as integer MICROSECONDS (strict
    <; equal-stamp pairs do not count as ordered). confidence/lift
    round via integral half-away arithmetic on the exact counts
    (nonneg operands), never a float quotient."""
    micros = F.unix_micros(F.col(ts_col).cast("timestamp"))
    base = df.filter(
        F.col(entity_col).isNotNull()
        & F.col(type_col).isNotNull()
        & F.col(ts_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        F.col(type_col).alias("__t"),
        micros.alias("__us"),
    )
    per = base.groupBy("__e", "__t").agg(
        F.min("__us").alias("__mn"), F.max("__us").alias("__mx")
    )
    from maston_spark.caching import scoped_persist

    per = scoped_persist(per)
    n_by_type = per.groupBy("__t").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    n_total = per.select("__e").distinct().count()
    l = per.select(
        "__e", F.col("__t").alias("type_a"), F.col("__mn").alias("__amn")
    )
    r = per.select(
        "__e", F.col("__t").alias("type_b"), F.col("__mx").alias("__bmx")
    )
    pre = (
        l.join(r, "__e")
        .filter(
            (F.col("type_a") != F.col("type_b"))
            & (F.col("__amn") < F.col("__bmx"))
        )
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_precede"))
        .filter(F.col("n_precede") >= int(min_support))
    )
    na = n_by_type.select(
        F.col("__t").alias("type_a"), F.col("__n").alias("n_entities_a")
    )
    nb = n_by_type.select(
        F.col("__t").alias("type_b"), F.col("__n").alias("n_entities_b")
    )
    dec = "decimal(38,0)"
    conf = F.expr(
        "(2 * n_precede * 1000000 + n_entities_a) div (2 * n_entities_a)"
    )
    lift = F.expr(
        f"(2 * CAST(n_precede AS {dec}) * {int(n_total)} * 1000000"
        f" + CAST(n_entities_a AS {dec}) * n_entities_b)"
        f" div (2 * CAST(n_entities_a AS {dec}) * n_entities_b)"
    )
    return (
        pre.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_entities_a",
            "n_entities_b",
            "n_precede",
            (conf.cast("double") / F.lit(1e6)).alias("confidence"),
            (lift.cast("double") / F.lit(1e6)).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


def binseg_changepoints(
    df: DataFrame,
    group_col: str,
    ts_col: str,
    unit: str = "hour",
) -> DataFrame:
    """Two-level binary-segmentation changepoints per group — up to
    three rows ``(group, segment ∈ {all, left, right}, seg_buckets,
    seg_events, changepoint_ts, cusum_scaled)``: the global CUSUM
    changepoint (Page 1954; the q175/q272 statistic), then the SAME
    statistic re-run inside each resulting half (Scott & Knott 1974
    binary segmentation, unrolled two levels) — the
    "did the rate shift once or repeatedly" question a single
    changepoint can't answer (a double shift makes one CUSUM peak
    land between the true breaks; the second level finds both).

    Exactness: every segment statistic is the n-scaled integer form
    ``n_seg·(cum_i − base) − (i − i_base)·total_seg`` — exact int64,
    ties broken on the earlier bucket, no division anywhere until
    the (omitted) cusum display value. Sub-segment cumulative sums
    REUSE the level-0 prefix sums (base = cum at the split), so the
    second level costs no new corpus pass.

    Scale shape: one combiner-reduced (group, bucket) aggregation
    collapses traffic; everything after runs on the BOUNDED bucket
    series (the cusum_changepoint precondition — per-group windows
    over bucket counts, never events). Segments with fewer than 2
    buckets drop (no interior point to test)."""
    b = (
        df.filter(F.col(group_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(group_col).alias("__g"),
            F.date_trunc(unit, F.col(ts_col)).alias("__bkt"),
        )
        .groupBy("__g", "__bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("__c"))
    )
    w = Window.partitionBy("__g").orderBy("__bkt")
    wc = b.select(
        "__g",
        "__bkt",
        F.sum("__c").over(w).alias("__cum"),
        F.row_number().over(w).cast("long").alias("__idx"),
    )
    from maston_spark.caching import scoped_persist

    wc = scoped_persist(wc)
    t = b.groupBy("__g").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__c").cast("long").alias("__tot"),
    )
    s0 = wc.join(F.broadcast(t), "__g").withColumn(
        "__sc", F.col("__n") * F.col("__cum") - F.col("__idx") * F.col("__tot")
    )
    pick = Window.partitionBy("__g").orderBy(
        F.abs(F.col("__sc")).desc(), F.col("__bkt").asc()
    )
    cp0 = (
        s0.withColumn("__rn", F.row_number().over(pick))
        .filter(F.col("__rn") == 1)
        .select(
            "__g",
            F.col("__bkt").alias("__cp0"),
            F.col("__idx").alias("__i0"),
            F.col("__cum").alias("__cum0"),
            F.col("__n").alias("__n0"),
            F.col("__tot").alias("__tot0"),
            F.col("__sc").alias("__sc0"),
        )
    )
    level0 = cp0.select(
        F.col("__g").alias("group"),
        F.lit("all").alias("segment"),
        F.col("__n0").alias("seg_buckets"),
        F.col("__tot0").alias("seg_events"),
        F.col("__cp0").alias("changepoint_ts"),
        F.col("__sc0").alias("cusum_scaled"),
    )
    sided = wc.join(F.broadcast(cp0), "__g").select(
        "__g",
        "__bkt",
        F.when(F.col("__idx") <= F.col("__i0"), F.lit("left"))
        .otherwise(F.lit("right"))
        .alias("segment"),
        # side-local index and cumulative reuse the level-0 prefix
        F.when(
            F.col("__idx") <= F.col("__i0"), F.col("__idx")
        )
        .otherwise(F.col("__idx") - F.col("__i0"))
        .alias("__si"),
        F.when(
            F.col("__idx") <= F.col("__i0"), F.col("__cum")
        )
        .otherwise(F.col("__cum") - F.col("__cum0"))
        .alias("__scum"),
    )
    seg_t = sided.groupBy("__g", "segment").agg(
        F.count(F.lit(1)).cast("long").alias("__sn"),
        F.max("__scum").alias("__stot"),  # max cumulative == segment total
    )
    s1 = sided.join(F.broadcast(seg_t), ["__g", "segment"]).withColumn(
        "__sc", F.col("__sn") * F.col("__scum") - F.col("__si") * F.col("__stot")
    )
    pick1 = Window.partitionBy("__g", "segment").orderBy(
        F.abs(F.col("__sc")).desc(), F.col("__bkt").asc()
    )
    level1 = (
        s1.withColumn("__rn", F.row_number().over(pick1))
        .filter((F.col("__rn") == 1) & (F.col("__sn") >= 2))
        .select(
            F.col("__g").alias("group"),
            "segment",
            F.col("__sn").alias("seg_buckets"),
            F.col("__stot").alias("seg_events"),
            F.col("__bkt").alias("changepoint_ts"),
            F.col("__sc").alias("cusum_scaled"),
        )
    )
    return level0.unionByName(level1).orderBy("group", "segment")


def ewma_trend(
    df: DataFrame,
    series_col: str,
    order_cols: "list[str]",
    value_col: str,
    weights_fast: "tuple[int, ...]",
    weights_slow: "tuple[int, ...]",
) -> DataFrame:
    """Truncated-EWMA trend readout per series — one row ``(series,
    n_obs, ewma_fast, ewma_slow, trend)``: the exponentially-weighted
    mean of the LAST ``len(weights)`` observations under a fast and a
    slow decay, plus the crossover state (fast above slow = the
    series is running above its own long-run level) — the
    smoothing-based drift lens beside the CUSUM family's
    changepoint tests (those ask "did the rate shift"; this reads
    the current level against the long memory).

    Exactness — NO in-engine float pow anywhere (the q242
    mirrored-literal discipline): the decay weights arrive as
    PRE-COMPUTED integer nano-lanes (``round(α(1−α)^r·10⁹)``,
    generated once, pasted identically into the oracle's VALUES
    table), values land on the 6-grid as micro-lanes, and each EWMA
    closes as ONE sign-split half-away division of decimal(38,0)
    sums — normalized by the weights actually PRESENT, so series
    shorter than the truncation window stay exact instead of
    decaying toward zero.

    Scale shape: one hash shuffle on the series key (window rank
    descending by the order columns), a rank filter keeps the last
    ``L`` rows per series, and the close is one combiner-reduced
    aggregation reusing the window's partitioning — per-series cost
    is O(series length) scan + O(L) arithmetic, never a per-lag
    pass."""
    if not weights_fast or not weights_slow:
        raise ValueError("ewma_trend: need non-empty weight lanes")
    dec = "decimal(38,0)"
    L = max(len(weights_fast), len(weights_slow))
    wf = F.array(*[F.lit(int(x)).cast("long") for x in weights_fast])
    ws = F.array(*[F.lit(int(x)).cast("long") for x in weights_slow])
    w = Window.partitionBy("series").orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    y = F.round(F.col(value_col).cast("double"), 6) * 1e6
    base = (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.col(series_col).alias("series"),
            F.round(y, 0).cast("long").alias("__y"),
            *[F.col(c) for c in order_cols],
        )
        .withColumn("__rn", F.row_number().over(w))
    )
    counts = base.groupBy("series").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    # rank-filter BEFORE indexing the weight arrays: under ANSI mode
    # (this engine's default) element_at past the array end throws,
    # and rows beyond the truncation window contribute nothing anyway
    recent = base.filter(F.col("__rn") <= F.lit(L))
    fidx = F.col("__rn") <= F.lit(len(weights_fast))
    sidx = F.col("__rn") <= F.lit(len(weights_slow))
    fw = F.element_at(wf, F.least(F.col("__rn"), F.lit(len(weights_fast))))
    sw = F.element_at(ws, F.least(F.col("__rn"), F.lit(len(weights_slow))))
    sums = recent.groupBy("series").agg(
        F.sum(F.when(fidx, fw.cast(dec) * F.col("__y"))).alias("__fn"),
        F.sum(F.when(fidx, fw.cast(dec))).alias("__fd"),
        F.sum(F.when(sidx, sw.cast(dec) * F.col("__y"))).alias("__sn"),
        F.sum(F.when(sidx, sw.cast(dec))).alias("__sd"),
    )
    agg = counts.join(sums, "series")

    def close(num, den):
        return F.expr(
            f"CASE WHEN {num} >= 0"
            f" THEN (2 * {num} + {den}) div (2 * {den})"
            f" ELSE -((2 * (-{num}) + {den}) div (2 * {den})) END"
        ).cast("double") / F.lit(1e6)

    ef = close("__fn", "__fd")
    es = close("__sn", "__sd")
    return agg.select(
        "series",
        "n_obs",
        ef.alias("ewma_fast"),
        es.alias("ewma_slow"),
        (ef > es).cast("int").alias("trend"),
    ).orderBy("series")


def dbscan_clusters(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int,
    min_pts: int,
) -> DataFrame:
    """Grid-blocked DBSCAN (Ester et al. 1996) — per-cluster summary
    ``(cluster, n_core, n_border, n_points)``: density clustering
    over integer planar points, the spatial clustering member beside
    the centroid family (q119 k-means assumes convex equal-ish
    blobs; DBSCAN finds arbitrary-shape dense regions and calls the
    sparse rest NOISE — no k to guess). Noise is a first-class row:
    ``cluster = -1`` (always emitted, possibly 0) carries every
    unclustered point — non-core points with no core neighbor and
    points with NULL coordinates — so ``sum(n_points)`` over the
    result equals ``|points|`` exactly. Composition of two graded
    primitives: ``grid_radius_join`` generates the ε-neighbor pairs
    (never all-pairs — candidates bounded by local density), and
    ``connected_components`` merges core points into clusters.

    Determinism (the classic DBSCAN ambiguity, resolved): a BORDER
    point reachable from cores of two different clusters is assigned
    the MINIMUM cluster id (textbook DBSCAN gives it to whichever
    core scans first — order-dependent, ungradeable); cluster ids
    are each component's minimum core id. Core test: |N_ε(p)| ≥
    ``min_pts`` counting the point itself.

    Scale shape: one grid-blocked pair join (Σ per-cell density²
    contract, documented), two slim degree aggs, the component loop
    over CORE edges only, and a |clusters|-row summary. Pair mass
    grows with ε²·density — pick ε for the data's density the way
    the sim-join family picks shingle thresholds."""
    from maston_spark.caching import scoped_persist

    # round-16 optimization (guide §5 caching rule: persist iff reused
    # AND recompute is expensive): the ε-pair table feeds FIVE plan
    # subtrees (degree union ×2, core-edge semi-join source, border
    # symmetrization ×2) — without the persist the grid join's
    # explode+shuffle+dedup pipeline re-executes for each (q306
    # measured 8.3 → 3.8 s at sf0.1)
    pairs = scoped_persist(grid_radius_join(points, id_col, x_col, y_col, eps))
    ids = points.select(F.col(id_col).alias("id")).distinct()
    deg = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("__d"))
    )
    from maston_spark.caching import scoped_persist

    marked = scoped_persist(
        ids.join(deg, "id", "left").select(
            "id",
            (
                F.coalesce(F.col("__d"), F.lit(0)) + 1 >= F.lit(int(min_pts))
            ).alias("__core"),
        )
    )
    cores = marked.filter(F.col("__core")).select("id")
    core_edges = (
        pairs.join(cores.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(cores.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
        .select("id_a", "id_b")
    )
    from maston_spark.llm.dedup import connected_components

    cc = connected_components(cores, core_edges)  # (id, cluster)
    # border points: non-core with >= 1 core neighbor — deterministic
    # min-cluster assignment across competing cores
    sym = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nb")
    ).unionByName(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nb"))
    )
    border = (
        marked.filter(~F.col("__core"))
        .select("id")
        .join(sym, "id")
        .join(
            cc.select(F.col("id").alias("nb"), "cluster"), "nb"
        )
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    both = cc.select("id", "cluster", F.lit(1).alias("__c")).unionByName(
        border.select("id", "cluster", F.lit(0).alias("__c"))
    )
    summary = both.groupBy("cluster").agg(
        F.sum("__c").cast("long").alias("n_core"),
        F.sum(1 - F.col("__c")).cast("long").alias("n_border"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
    )
    # NOISE row, always emitted as cluster = -1 (a sentinel, not
    # NULL — NULL sorts first in Spark and last in DuckDB): points
    # in no cluster (non-core with no core neighbor, incl. NULL
    # coordinates, which the grid join drops), so sum(n_points)
    # over the result equals |points| by construction. Two 1-row
    # aggs cross-joined — driver-bounded scalars.
    cluster_t = dict(both.dtypes)["cluster"]
    noise = (
        ids.agg(F.count(F.lit(1)).alias("__t"))
        .join(both.agg(F.count(F.lit(1)).alias("__k")))
        .select(
            F.lit(-1).cast(cluster_t).alias("cluster"),
            F.lit(0).cast("long").alias("n_core"),
            F.lit(0).cast("long").alias("n_border"),
            (F.col("__t") - F.col("__k")).cast("long").alias("n_points"),
        )
    )
    return summary.unionByName(noise).orderBy("cluster")


def join_order_plan(
    tables: "dict[str, DataFrame]",
    joins: "list[tuple[str, str, str, str]]",
) -> DataFrame:
    """Selinger-lite LEFT-DEEP join-order enumeration (Selinger et
    al. 1979) — one row per VALID order ``(rank, join_order,
    est_cost, est_final_rows)``: enumerate every left-deep order of
    the join graph that never crosses (each next table must join a
    table already in the prefix), price each with the textbook
    containment estimator ``|X ⋈_k Y| = |X|·|Y| div max(d_X(k),
    d_Y(k))``, and charge an order the SUM of its intermediate
    cardinalities — the optimizer step that q217's AMS sketch prices
    ONE join for and q298's histograms feed: picking the order is
    what the statistics exist FOR. Ranked cheapest first (ties on
    the order string).

    Estimation contract (documented, exact integers): per-key
    distinct counts come from the BASE table carrying the key
    (containment assumption — a join never invents key values);
    every product/div is exact integer arithmetic in Python's
    unbounded ints off |tables| collected scalars, so the oracle
    replays the identical formula. When a table joins the prefix
    through MULTIPLE edges (a cycle in the join graph), EVERY
    connecting predicate applies its own containment factor —
    ``div max(d_anchor, d_t)`` once per edge, edges in sorted
    ``(anchor, anchor_key, t_key)`` order so equivalent inputs
    price identically regardless of the ``joins`` list order. This is an ESTIMATOR audit
    surface, not a guarantee — pair with q217 for sketch-priced
    single joins.

    Scale shape: ONE count + |keys| distinct aggregations per table
    (combiner-reduced; the corpus never shuffles), then pure
    driver arithmetic on ~|tables|·|keys| scalars and a
    ≤|orders|-row result. Guarded to ≤ 7 tables (8! orders would be
    a driver loop, not a plan)."""
    from itertools import permutations

    if len(tables) > 7:
        raise ValueError("join_order_plan: too many tables (> 7)")
    if not joins:
        raise ValueError("join_order_plan: need at least one join edge")
    some_df = next(iter(tables.values()))
    spark = some_df.sparkSession

    # one pass per table: row count + every join key's distinct count
    keys_by_table: "dict[str, set[str]]" = {t: set() for t in tables}
    for lt, rt, lk, rk in joins:
        keys_by_table[lt].add(lk)
        keys_by_table[rt].add(rk)
    stats: "dict[str, dict]" = {}
    for t, d in tables.items():
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")] + [
            F.countDistinct(F.col(k)).cast("long").alias(f"__d_{k}")
            for k in sorted(keys_by_table[t])
        ]
        row = d.agg(*aggs).collect()[0]
        stats[t] = {
            "n": int(row["__n"]),
            "d": {k: int(row[f"__d_{k}"]) for k in keys_by_table[t]},
        }

    edges = [(lt, rt, lk, rk) for lt, rt, lk, rk in joins]

    def connecting(prefix, t):
        # EVERY edge joining t to the prefix, deterministically
        # ordered — cyclic graphs apply one containment factor per
        # connecting predicate (not just the first edge found).
        found = []
        for lt, rt, lk, rk in edges:
            if lt in prefix and rt == t:
                found.append((lt, lk, rk))
            elif rt in prefix and lt == t:
                found.append((rt, rk, lk))
        found.sort()
        return found

    rows = []
    names = sorted(tables)
    for perm in permutations(names):
        prefix = {perm[0]}
        est = stats[perm[0]]["n"]
        cost = 0
        ok = True
        for t in perm[1:]:
            conns = connecting(prefix, t)
            if not conns:
                ok = False
                break
            est = est * stats[t]["n"]
            for anchor, ak, tk in conns:
                da = stats[anchor]["d"][ak]  # containment: the base
                dt = stats[t]["d"][tk]  # table's distincts survive
                est //= max(da, dt, 1)
            cost += est
            prefix.add(t)
        if ok:
            rows.append((">".join(perm), int(cost), int(est)))
    rows.sort(key=lambda r: (r[1], r[0]))
    out = [
        (i + 1, order, cost, final)
        for i, (order, cost, final) in enumerate(rows)
    ]
    return spark.createDataFrame(
        out, "rank int, join_order string, est_cost long, est_final_rows long"
    )


def shapley_attribution(
    touches: DataFrame,
    user_col: str,
    channel_col: str,
    converted_col: str,
    max_channels: int = 8,
) -> DataFrame:
    """Shapley-value channel attribution (Shapley 1953; Shao & Li
    2011) — one row per channel ``(channel, n_sets, n_users,
    n_conversions, shapley)``: conversion credit split by each
    channel's factorial-weighted AVERAGE marginal contribution
    across all join orders, the principled-credit sibling of
    :func:`last_touch_attribution` (last-touch hands the whole
    conversion to whoever arrived last; Shapley is the unique
    symmetric/efficient/dummy-respecting split). Coalition worth is
    the count-based ``v(T) = Σ_{S ⊆ T} C(S)`` — conversions by users
    whose ENTIRE touched-channel set fits inside T — so channels
    only earn credit for conversions they were actually part of,
    and ``Σ_c shapley_c = v(U) =`` total conversions (the
    efficiency identity, asserted by the 2-channel hand case:
    disjoint singles keep their own, the overlap splits evenly).

    Exactness: Φ_c = Σ_{T ⊆ U∖{c}} |T|!·(u−1−|T|)!·[v(T∪c)−v(T)]
    folds exact Python integers; ``shapley = Φ_c / u!`` closes on
    the micro half-away lane ``(2·Φ·10⁶ + u!) div (2·u!)`` — one
    reporting division, oracle-replayable bit-for-bit.

    Scale shape: the corpus-side work is ONE distinct + one
    sort-canonicalized set aggregation per user and one groupBy
    over the ≤2^u distinct channel sets (combiner-reduced); only
    those ≤2^u count rows reach the driver (the q307
    driver-bounded-scalars contract), where the 2^u DP runs in
    exact ints. Guarded to ``u ≤ max_channels ≤ ~8`` — 2^u·u
    driver work and u!-denominator rationals both stay trivial
    there; a wider universe needs sampling-based Shapley, a
    different operator. NULL users/channels drop; users whose
    distinct set exceeds the universe cannot occur (the universe IS
    the union of observed sets)."""
    from math import factorial

    d = touches.filter(
        F.col(user_col).isNotNull() & F.col(channel_col).isNotNull()
    ).select(
        F.col(user_col).alias("__u"),
        F.col(channel_col).cast("string").alias("__c"),
        F.col(converted_col).cast("int").alias("__y"),
    )
    per_user = (
        d.groupBy("__u")
        .agg(
            F.array_sort(F.collect_set("__c")).alias("__set"),
            F.max("__y").cast("int").alias("__conv"),
        )
        .select(
            F.concat_ws("|", F.col("__set")).alias("__key"),
            "__conv",
        )
    )
    sets = (
        per_user.groupBy("__key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.sum("__conv").cast("long").alias("__k"),
        )
        .collect()
    )  # ≤ 2^u rows by construction — driver-bounded contract
    spark = touches.sparkSession
    universe = sorted({c for r in sets for c in r["__key"].split("|") if c})
    u = len(universe)
    if u == 0:
        return spark.createDataFrame(
            [],
            "channel string, n_sets long, n_users long,"
            " n_conversions long, shapley double",
        )
    if u > max_channels:
        raise ValueError(
            f"shapley_attribution: {u} channels > max_channels="
            f"{max_channels}; exact 2^u Shapley needs a bounded universe"
        )
    bit = {c: 1 << i for i, c in enumerate(universe)}
    conv = [0] * (1 << u)
    n_users_by_mask = [0] * (1 << u)
    for r in sets:
        chans = [c for c in r["__key"].split("|") if c]
        if not chans:
            continue  # untouched users carry no attributable credit
        m = 0
        for c in chans:
            m |= bit[c]
        conv[m] += int(r["__k"])
        n_users_by_mask[m] += int(r["__n"])
    # v(T) = Σ_{S ⊆ T} C(S): subset-sum (zeta) transform, 2^u·u ops
    v = list(conv)
    for i in range(u):
        for m in range(1 << u):
            if m & (1 << i):
                v[m] += v[m ^ (1 << i)]
    fact = [factorial(i) for i in range(u + 1)]
    rows = []
    for c in universe:
        b = bit[c]
        phi = 0
        n_sets = n_usr = n_conv = 0
        for m in range(1 << u):
            if m & b:
                continue
            w = fact[bin(m).count("1")] * fact[u - 1 - bin(m).count("1")]
            phi += w * (v[m | b] - v[m])
        for m in range(1 << u):
            if m & b and (n_users_by_mask[m] or conv[m]):
                n_sets += 1
                n_usr += n_users_by_mask[m]
                n_conv += conv[m]
        micro = (2 * phi * 10**6 + fact[u]) // (2 * fact[u])
        rows.append((c, n_sets, n_usr, n_conv, micro / 1e6))
    return spark.createDataFrame(
        sorted(rows),
        "channel string, n_sets long, n_users long,"
        " n_conversions long, shapley double",
    )


def fs_linkage_weights(
    df: DataFrame,
    fields: "list[str]",
    m_probs: "dict[str, float]",
) -> DataFrame:
    """Fellegi-Sunter record-linkage weights (Fellegi & Sunter
    1969) — one row per comparison field ``(field, n_rows,
    n_distinct, u_prob, w_agree, w_disagree)``: the evidence a
    field agreement/disagreement contributes to a match decision,
    ``w_agree = log₂(m/u)`` and ``w_disagree = log₂((1−m)/(1−u))``.
    The probabilistic half of the data-integration family: q251's
    golden record decides WHAT survives once records are linked —
    this prices WHETHER two records are the same entity, field by
    field, and is why agreeing on a phone number (u ≈ 0) outweighs
    agreeing on a market segment (u ≈ 1/5).

    ``u_k`` — the probability two DISTINCT random records agree on
    field k — is estimated EXACTLY from the value-frequency table:
    ``u = Σ_v f_v(f_v−1) / (N_k(N_k−1))`` over the field's non-null
    rows, closed on the micro half-away integer lane (decimal(38,0)
    numerators; the one division lands both engines on the same
    double). ``m_k`` (agreement probability among true matches) has
    no unsupervised single-pass estimator — it is a DOCUMENTED
    caller parameter (the classic 0.9–0.95 defaults), echoed into
    the output via the weights. The two log₂ weights round at 6 off
    the shared exact ``u`` (the q246 libm-grid discipline); fields
    with u = 0 (all values distinct — agreement is perfect
    evidence) and u = 1 (constant field — agreement is no evidence)
    emit NULL for the weight whose log diverges.

    Scale shape: ONE stacked-generator scan (the q305 profile
    pattern — n×|fields| slim pairs), a combiner-reduced
    (field, value) count, a |fields|-row close — no pair
    enumeration anywhere (u comes from frequencies, not from
    sampling pairs)."""
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("field"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in fields
                ]
            )
        ).alias("s")
    ).select("s.field", "s.v").filter(F.col("v").isNotNull())
    per_val = stacked.groupBy("field", "v").agg(
        F.count(F.lit(1)).cast("long").alias("__f")
    )
    per_field = per_val.groupBy("field").agg(
        F.sum("__f").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.expr("cast(__f as decimal(38,0)) * (__f - 1)")).alias("__s"),
    )
    m_map = F.create_map(
        *[x for c in fields for x in (F.lit(c), F.lit(float(m_probs[c])))]
    )
    u_micro = F.expr(
        "CASE WHEN n_rows > 1 THEN"
        " (2 * __s * 1000000 + cast(n_rows as decimal(38,0)) * (n_rows - 1))"
        " div greatest(2 * cast(n_rows as decimal(38,0)) * (n_rows - 1), 1)"
        " ELSE 0 END"
    )
    staged = per_field.select(
        "field",
        "n_rows",
        "n_distinct",
        (u_micro.cast("double") / F.lit(1e6)).alias("u_prob"),
        m_map[F.col("field")].alias("__m"),
    )
    return staged.select(
        "field",
        "n_rows",
        "n_distinct",
        "u_prob",
        F.when(
            F.col("u_prob") > 0,
            F.round(F.log2(F.col("__m") / F.col("u_prob")), 6),
        ).alias("w_agree"),
        F.when(
            F.col("u_prob") < 1,
            F.round(
                F.log2((1.0 - F.col("__m")) / (1.0 - F.col("u_prob"))), 6
            ),
        ).alias("w_disagree"),
    ).orderBy("field")


def seasonal_decompose(
    series: DataFrame,
    t_col: str,
    y_col: str,
    period: int,
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method STL descends from; period must be ODD here) — one row per
    bucket ``(t, y, pos, trend, seasonal, residual)`` with
    ``y = trend + seasonal + residual`` wherever trend is defined:
    trend is the centered ``period``-wide moving average, the
    seasonal profile is the per-position mean of the detrended
    series re-centered to sum ~0, residual is what's left — the
    decomposition lens beside :func:`seasonal_anomalies`' factor
    gate (that one flags buckets; this one explains every bucket's
    level as structure + season + noise) and the ACF/MASE pair
    (which *measure* seasonality; this *removes* it).

    Exactness: every stage is an integer micro lane — trend =
    ``(2·S·10⁶ + p) div 2p`` off the exact window sum S, detrended =
    ``y·10⁶ − trend_micro``, each position's seasonal mean and the
    re-centering grand mean close as half-away lanes over exact
    sums, residual = exact lane subtraction; the three reported
    doubles are single ``/1e6`` divisions. Windows are RANGE frames
    on the bucket index, so a GAP in the series correctly voids the
    trend (a full ``period``-bucket neighborhood is required — NULL
    trend/residual at edges and around gaps, the textbook
    contract).

    Scale shape: the |buckets| series is the bounded-domain frame
    (pre-aggregate raw events to buckets first — the KM/NA
    precondition); one range-window pass, one |positions|-row
    profile aggregation broadcast back, |buckets| result rows."""
    if period % 2 != 1:
        raise ValueError("seasonal_decompose: period must be odd")
    half = period // 2
    w = Window.orderBy(F.col("t").cast("long")).rangeBetween(-half, half)
    base = series.select(
        F.col(t_col).cast("long").alias("t"),
        F.col(y_col).cast("long").alias("y"),
    ).filter(F.col("t").isNotNull() & F.col("y").isNotNull())
    dec = "decimal(38,0)"
    with_trend = base.select(
        "t",
        "y",
        F.pmod(F.col("t"), F.lit(period)).cast("int").alias("pos"),
        F.when(
            F.count(F.lit(1)).over(w) == period,
            F.expr(
                f"(2 * cast(sum(y) over "
                f"(order by cast(t as long) range between {half} preceding"
                f" and {half} following) as decimal(38,0)) * 1000000"
                f" + {period}) div {2 * period}"
            ),
        ).alias("__trend_m"),
    )
    det = with_trend.withColumn(
        "__det_m",
        F.when(
            F.col("__trend_m").isNotNull(),
            F.col("y").cast(dec) * 1000000 - F.col("__trend_m"),
        ),
    )
    prof = (
        det.filter(F.col("__det_m").isNotNull())
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__k"),
            F.sum("__det_m").alias("__sd"),
        )
        .select(
            "pos",
            F.expr(
                "case when __sd >= 0 then (2 * __sd + __k) div (2 * __k)"
                " else -((2 * -__sd + __k) div (2 * __k)) end"
            ).alias("__s_m"),  # half-away lane, sign-split (div
            # truncates toward zero only for positive operands)
        )
    )
    grand = prof.agg(
        F.count(F.lit(1)).cast("long").alias("__p"),
        F.sum("__s_m").alias("__ss"),
    ).select(
        F.expr(
            "case when __ss >= 0 then (2 * __ss + __p) div (2 * __p)"
            " else -((2 * -__ss + __p) div (2 * __p)) end"
        ).alias("__g_m")
    )
    seasoned = (
        det.join(F.broadcast(prof), "pos", "left")
        .join(F.broadcast(grand))
        .withColumn(
            "__seas_m",
            F.coalesce(F.col("__s_m"), F.lit(0).cast(dec)) - F.col("__g_m"),
        )
    )
    return seasoned.select(
        "t",
        "y",
        "pos",
        (F.col("__trend_m").cast("double") / F.lit(1e6)).alias("trend"),
        (F.col("__seas_m").cast("double") / F.lit(1e6)).alias("seasonal"),
        (
            (F.col("__det_m") - F.col("__seas_m")).cast("double") / F.lit(1e6)
        ).alias("residual"),
    ).orderBy("t")
