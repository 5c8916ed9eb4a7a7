"""Data profiling: exact per-column statistics in ONE table scan.

Every analytics engine ships a DESCRIBE/SUMMARY; this one is exact
(count distinct, not a sketch) and oracle-checkable, built for audit
reports on curated training corpora where "how many distinct values,
how many nulls" must be a number you can reproduce, not an estimate.
Spark's own ``df.summary()`` uses approximate percentiles and isn't
deterministic across partitionings; this is.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def profile_numeric(df: DataFrame, columns: list[str]) -> DataFrame:
    """Long-format exact profile of numeric columns: one output row
    per column with row/null/distinct counts and min/max.

    Scale shape: the columns are stacked into (column, value) pairs
    by a single generator — ONE scan of the table regardless of how
    many columns are profiled — and every statistic is a map-side-
    combinable aggregate. ``n_distinct`` is exact: Spark plans a
    partial distinct per (column, value) before the final count, so
    the shuffle carries at most the distinct set, not the raw rows.
    min/max/counts are order-independent, so no rounding tricks are
    needed; values pass through as doubles untouched.
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("double").alias("v"),
                    )
                    for c in columns
                ]
            )
        ).alias("s")
    ).select("s.*")
    return (
        pairs.groupBy("column")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("v").isNull().cast("long")).alias("n_nulls"),
            F.countDistinct("v").alias("n_distinct"),
            F.min("v").alias("min_val"),
            F.max("v").alias("max_val"),
        )
        .select(
            "column",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_nulls").cast("long").alias("n_nulls"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "min_val",
            "max_val",
        )
    )


def profile_strings(df: DataFrame, columns: list[str]) -> DataFrame:
    """Long-format exact profile of string columns: row/null/distinct
    counts, min/max/avg length, and empty-string count — one table
    scan for any number of columns, same stacked-generator shape as
    :func:`profile_numeric`. Length stats are integers (exact,
    order-independent); avg_len divides two exact sums and rounds
    identically in any engine.
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in columns
                ]
            )
        ).alias("s")
    ).select("s.*")
    ln = F.length("v")
    return (
        pairs.groupBy("column")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("v").isNull().cast("long")).cast("long").alias("n_nulls"),
            F.countDistinct("v").cast("long").alias("n_distinct"),
            F.sum((ln == 0).cast("long")).cast("long").alias("n_empty"),
            F.min(ln).cast("long").alias("min_len"),
            F.max(ln).cast("long").alias("max_len"),
            F.round(F.sum(ln) / F.count("v"), 6).alias("avg_len"),
        )
    )


def key_skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Join/grouping-key skew diagnostic: per hot key, its row count,
    share of the table, and the ratio to a perfectly uniform key —
    the numbers that decide whether a planned shuffle needs salting
    or AQE skew-join handling BEFORE the job runs at 100 TB (a key
    holding 10% of a 100 TB table is a 10 TB straggler partition).

    One hash aggregate with map-side combine (shuffle bounded by
    distinct keys), one slim global aggregate broadcast back, and a
    top-k that Spark executes as per-partition top-k + k-row merge.
    Null keys count as a key (they hash-partition together in joins,
    which is exactly when they hurt).

    Output: the ``top_k`` hottest keys with ``n_rows``, ``row_frac``
    (share of all rows), and ``skew_ratio`` (n_rows / (total/distinct)
    — 1.0 means perfectly uniform; the salting threshold in
    `partitioning.py` keys off this number).
    """
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    stats = counts.agg(
        F.sum("n_rows").alias("__total"),
        F.count(F.lit(1)).alias("__n_keys"),
    )
    return (
        counts.join(F.broadcast(stats))
        .select(
            F.col("key").cast("string").alias("key"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("row_frac"),
            F.round(
                F.col("n_rows") / (F.col("__total") / F.col("__n_keys")), 6
            ).alias("skew_ratio"),
        )
        .orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(top_k)
    )


def chi2_contingency(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns — the audit that catches confounded corpus dimensions
    (is `lang` independent of `source`? if not, per-source sampling
    reshapes the language mix). Returns one row: the statistic,
    degrees of freedom, cell/grand counts.

    Scale shape: ONE combiner-reduced count aggregate over the
    corpus (shuffle bounded by |a|×|b| cells, not rows); marginals
    and the grand total derive from the cell table (slim aggs,
    broadcast back); the (o−e)²/e terms are rounded to 9 decimals
    and summed in DECIMAL(28,9) so the statistic is independent of
    partition merge order (exact cross-engine parity). Nulls count
    as a category (they are a real value of the dimension) — in the
    cells, the marginals, AND the degrees of freedom: r and c are
    the marginal-table row counts (null-inclusive), never a
    null-skipping count_distinct, so statistic and dof stay
    consistent when a dimension contains NULL.
    """
    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__o"))
    row_t = cells.groupBy("__a").agg(F.sum("__o").alias("__rt"))
    col_t = cells.groupBy("__b").agg(F.sum("__o").alias("__ct"))
    ra = row_t.agg(F.count(F.lit(1)).alias("__ra"))
    cb = col_t.agg(F.count(F.lit(1)).alias("__cb"))
    grand = (
        cells.agg(
            F.sum("__o").alias("__n"),
            F.count(F.lit(1)).alias("__cells"),
        )
        .join(F.broadcast(ra))
        .join(F.broadcast(cb))
    )
    e = (F.col("__rt") * F.col("__ct")) / F.col("__n")
    term = (F.col("__o") - e) * (F.col("__o") - e) / e
    return (
        cells.join(F.broadcast(row_t), "__a")
        .join(F.broadcast(col_t), "__b")
        .join(F.broadcast(grand))
        .agg(
            F.round(
                F.sum(F.round(term, 9).cast("decimal(28,9)")).cast("double"), 6
            ).alias("chi2"),
            ((F.max("__ra") - 1) * (F.max("__cb") - 1))
            .cast("long")
            .alias("dof"),
            F.max("__cells").cast("long").alias("n_cells"),
            F.max("__n").cast("long").alias("n_rows"),
        )
    )


def constraint_report(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Declarative data-quality constraint validation (the
    Deequ/Great-Expectations shape): evaluate a rule list against a
    table in as few passes as the rule kinds allow and return one
    ``(rule, n_rows, n_violations, passed)`` row per rule — the gate
    a curation pipeline runs before promoting a snapshot.

    Rule dicts (``name`` optional, defaults to ``kind:col``):
    - ``{"kind": "not_null", "col": c}`` — NULLs are violations
    - ``{"kind": "unique", "cols": [c, ...]}`` — violations = rows
      in excess of the first per distinct key (count - countDistinct)
    - ``{"kind": "range", "col": c, "min": lo, "max": hi}`` —
      non-null values outside the inclusive bounds
    - ``{"kind": "accepted_values", "col": c, "values": [...]}`` —
      non-null values outside the allow-list
    - ``{"kind": "foreign_key", "col": c, "ref": DataFrame,
      "ref_col": rc}`` — non-null keys with no referenced row
      (SQL FK semantics: NULL keys are not violations)

    Distributed shape: every scalar rule (not_null / range /
    accepted_values / unique) FUSES into one aggregation over one
    column-pruned scan — conditional counts plus exact distinct
    counts, all combiner-reduced to a single row, unpivoted with
    ``stack`` driver-free. Each foreign-key rule adds one left join
    against the DISTINCT referenced keys (no fan-out by
    construction) feeding a 1-row conditional count. Output is
    |rules| rows regardless of table size.
    """
    exprs, names, fk_rules = [], [], []
    for r in rules:
        kind = r["kind"]
        if kind == "foreign_key":
            fk_rules.append((r.get("name") or f"{kind}:{r['col']}", r))
            continue
        if kind == "not_null":
            name = r.get("name") or f"{kind}:{r['col']}"
            e = F.count(F.when(F.col(r["col"]).isNull(), 1))
        elif kind == "range":
            name = r.get("name") or f"{kind}:{r['col']}"
            c = F.col(r["col"])
            cond = F.lit(False)
            if "min" in r:
                cond = cond | (c < F.lit(r["min"]))
            if "max" in r:
                cond = cond | (c > F.lit(r["max"]))
            e = F.count(F.when(cond, 1))
        elif kind == "accepted_values":
            name = r.get("name") or f"{kind}:{r['col']}"
            c = F.col(r["col"])
            e = F.count(F.when(c.isNotNull() & ~c.isin(r["values"]), 1))
        elif kind == "unique":
            name = r.get("name") or f"{kind}:{','.join(r['cols'])}"
            e = F.count(F.lit(1)) - F.count_distinct(
                *[F.col(c) for c in r["cols"]]
            )
        else:
            raise ValueError(f"unknown constraint kind {kind!r}")
        exprs.append(e.cast("long").alias(f"__r{len(names)}"))
        names.append(name)
    parts = []
    if names:
        agg = df.agg(F.count(F.lit(1)).cast("long").alias("__n"), *exprs)
        stack_args = ", ".join(
            f"{_sql_str(n)}, __r{i}" for i, n in enumerate(names)
        )
        parts.append(
            agg.select(
                F.expr(
                    f"stack({len(names)}, {stack_args}) as (rule, n_violations)"
                ),
                F.col("__n").alias("n_rows"),
            ).select("rule", "n_rows", "n_violations")
        )
    for name, r in fk_rules:
        ref_keys = (
            r["ref"].select(F.col(r["ref_col"]).alias("__k")).distinct()
        )
        joined = df.select(F.col(r["col"]).alias("__k")).join(
            ref_keys.withColumn("__hit", F.lit(1)), "__k", "left"
        )
        parts.append(
            joined.agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count(
                    F.when(
                        F.col("__k").isNotNull() & F.col("__hit").isNull(), 1
                    )
                )
                .cast("long")
                .alias("n_violations"),
            ).select(
                F.lit(name).alias("rule"), "n_rows", "n_violations"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "rule",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    ).orderBy("rule")


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def k_anonymity_report(
    df: DataFrame, quasi_cols: list[str], k: int = 10
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002 — public): group the table by
    its quasi-identifier columns and flag every equivalence class
    smaller than ``k`` — rows in those classes are re-identifiable
    by joining the quasi-identifiers against an external dataset.
    The data-governance gate run before releasing or training on a
    table with person-adjacent columns (complements the PII scrub,
    which handles direct identifiers). Returns one row per
    equivalence class with its size and ``at_risk`` verdict.

    Distributed shape: ONE combiner-reduced hash aggregation on the
    quasi-identifier key; output is |distinct quasi tuples| rows,
    bounded by the identifier domain, not the table.
    """
    return (
        df.groupBy(*[F.col(c) for c in quasi_cols])
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
        .select(
            *quasi_cols,
            "class_size",
            (F.col("class_size") < k).alias("at_risk"),
        )
        .orderBy(*quasi_cols)
    )


def ks_drift(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic of each group's
    ``value_col`` distribution against THE REST of the table — one
    row per group: ``(group, n_group, n_rest, ks_scaled, ks)`` with
    ``ks = max_x |F_group(x) − F_rest(x)|``, the standard
    continuous-distribution drift test (the numeric counterpart of
    :func:`chi2_contingency`'s categorical audit; run it on per-doc
    token counts to ask "does this source's length profile diverge
    from the corpus?").

    Cross-engine exactness: the difference of two empirical CDFs is
    rational, so the max runs in the scaled INTEGER domain —
    ``|n_rest·cum_g(x) − n_g·cum_rest(x)|`` over the merged value
    grid — and the reported ``ks`` is the raw IEEE quotient
    ``ks_scaled / (n_g · n_rest)`` of exact int64s (magnitudes
    ≤ ~n², far under 2⁶³). No rounding anywhere.

    Distributed shape: ONE combiner-reduced aggregation collapses the
    corpus to |values|×|groups| count rows; the grid completion
    (every group needs a CDF step at every distinct value) is an
    equi-keyed join of the two SMALL distinct frames, and the
    cumulative windows are partitioned per group over that bounded
    grid — the corpus is scanned once and never re-shuffled.

    PRECONDITION — bounded distinct-value domain: the merged-grid CDF
    (including one partition-less cumulative window over the
    |values|-row per-value totals) is sized by DISTINCT values, so
    ``value_col`` must be discrete or pre-binned (counts, grades,
    bucketed scores). For genuinely continuous columns whose distinct
    count approaches the row count, bin first —
    :func:`binned_tvd_drift` is the bounded-by-construction drift
    twin (fixed decile edges), or quantize via
    :func:`ref_bin_edges` + :func:`bucket_of_edges` and run the KS
    max over bin boundaries.
    """
    from maston_spark.caching import scoped_persist

    # counts feeds six consumers (vals, groups, filled, per_val,
    # sizes, total) — persist it or the corpus aggregation re-runs
    # per consumer.
    counts = scoped_persist(
        df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vals = counts.select("v").distinct().withColumn("__k", F.lit(1))
    groups = counts.select("g").distinct().withColumn("__k", F.lit(1))
    grid = vals.join(groups, "__k").drop("__k")
    filled = grid.join(counts, ["g", "v"], "left").select(
        "g", "v", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    w = Window.partitionBy("g").orderBy("v")
    cum = filled.withColumn("cum_g", F.sum("c").over(w))
    # total cumulative per value from the per-value totals — a
    # |values|-row frame, so its partition-less window is over the
    # BOUNDED distinct-value domain (same pattern as
    # exact_percentiles' value histogram), never the corpus
    per_val = (
        counts.groupBy("v")
        .agg(F.sum("c").cast("long").alias("cv"))
        .withColumn("cum_all", F.sum("cv").over(Window.orderBy("v")))
        .select("v", "cum_all")
    )
    sizes = counts.groupBy("g").agg(F.sum("c").cast("long").alias("n_group"))
    total = counts.agg(F.sum("c").cast("long").alias("__n")).withColumn(
        "__k", F.lit(1)
    )
    scored = (
        cum.join(F.broadcast(per_val), "v")
        .join(F.broadcast(sizes), "g")
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(total), "__k")
        .withColumn("n_rest", F.col("__n") - F.col("n_group"))
        .withColumn("cum_rest", F.col("cum_all") - F.col("cum_g"))
        .withColumn(
            "__d",
            F.abs(
                F.col("n_rest") * F.col("cum_g")
                - F.col("n_group") * F.col("cum_rest")
            ),
        )
    )
    return (
        scored.groupBy("g", "n_group", "n_rest")
        .agg(F.max("__d").cast("long").alias("ks_scaled"))
        .select(
            F.col("g").alias(group_col),
            "n_group",
            "n_rest",
            "ks_scaled",
            (
                F.col("ks_scaled").cast("double")
                / (F.col("n_group") * F.col("n_rest")).cast("double")
            ).alias("ks"),
        )
    )


def suggest_constraints(
    df: DataFrame,
    columns: list[str],
    accepted_values_max: int = 10,
) -> DataFrame:
    """Deequ-style constraint SUGGESTION (the profiling half of the
    declarative data-quality loop — :func:`constraint_report` is the
    enforcement half): profile the listed columns and emit the rules
    the data currently satisfies, as ``(col_name, rule, param_values,
    param_lo, param_hi)`` rows —

    - ``not_null``   when the column has zero NULLs;
    - ``unique``     when every row has a distinct non-NULL value;
    - ``accepted_values`` when the distinct count is between 2 and
      ``accepted_values_max`` (``param_values`` = the sorted distinct
      values, comma-joined);
    - ``range``      for numeric columns (``param_lo``/``param_hi`` =
      observed min/max as doubles, so no string-formatting parity
      hazards).

    Distributed shape: ONE combiner-reduced aggregation computes
    every count/distinct/min/max (a single 1-row collect, bounded by
    |columns| metrics — never data rows); a second single aggregation
    gathers sorted value lists ONLY for columns that already proved
    small (≤ ``accepted_values_max`` distinct), so no collect_set can
    blow up on a high-cardinality column. Suggestions assemble on the
    driver from those ≤2 bounded rows.
    """
    import pyspark.sql.types as T

    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.NumericType,))
    }
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs.append(F.count(F.col(c)).alias(f"__nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__nd_{c}"))
        if c in numeric:
            aggs.append(F.min(F.col(c)).cast("double").alias(f"__mn_{c}"))
            aggs.append(F.max(F.col(c)).cast("double").alias(f"__mx_{c}"))
    m = df.agg(*aggs).collect()[0]  # 1 row, |columns|-bounded metrics
    if m["__n"] == 0:
        # an empty table satisfies every rule vacuously — suggesting
        # not_null/unique for all columns would be garbage advice
        return df.sparkSession.createDataFrame(
            [],
            "col_name string, rule string, param_values string, "
            "param_lo double, param_hi double",
        )

    small = [
        c for c in columns if 2 <= m[f"__nd_{c}"] <= accepted_values_max
    ]
    values: dict[str, str] = {}
    if small:
        vals_row = df.agg(
            *[
                F.array_join(
                    F.sort_array(F.collect_set(F.col(c).cast("string"))), ","
                ).alias(f"__v_{c}")
                for c in small
            ]
        ).collect()[0]  # 1 row; each set proved <= accepted_values_max
        values = {c: vals_row[f"__v_{c}"] for c in small}

    rows = []
    for c in columns:
        nn, nd = m[f"__nn_{c}"], m[f"__nd_{c}"]
        if nn == m["__n"]:
            rows.append((c, "not_null", None, None, None))
        if nd == m["__n"] and nn == m["__n"]:
            rows.append((c, "unique", None, None, None))
        if c in values:
            rows.append((c, "accepted_values", values[c], None, None))
        # range only when the column has at least one value — an
        # all-NULL numeric column has no observed bounds to suggest
        if c in numeric and nn > 0:
            rows.append((c, "range", None, m[f"__mn_{c}"], m[f"__mx_{c}"]))
    return df.sparkSession.createDataFrame(
        rows,
        "col_name string, rule string, param_values string, "
        "param_lo double, param_hi double",
    )


def ref_bin_edges(ref: DataFrame, value_col: str, n_bins: int) -> list[float]:
    """Reference-distribution bin edges: the exact ``i/n_bins``
    percentiles (percentile_cont, linear interpolation) of the
    non-null values — a bounded ``n_bins - 1``-value driver list,
    computed ONCE per reference. Shared by the streaming
    :func:`maston_spark.streaming.topology.drift_monitor_topology`
    (fixed at topology start) and its oracle-graded batch twin
    (q201), so the two paths cannot drift apart."""
    from maston_spark.relational import exact_percentiles

    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    ps = [i / n_bins for i in range(1, n_bins)]
    als = [f"__e{i}" for i in range(1, n_bins)]
    refv = ref.filter(F.col(value_col).isNotNull()).select(
        F.lit(1).alias("__g"), F.col(value_col).cast("double").alias("v")
    )
    row = exact_percentiles(refv, "__g", "v", ps, als).collect()[0]
    return [float(row[a]) for a in als]


def bucket_of_edges(col: Column, edges: "list[float]") -> Column:
    """Bin index of ``col`` against fixed edges: count of edges the
    value exceeds (bin 0 = lowest). The streaming drift monitor and
    its batch twin evaluate this identical expression."""
    b = None
    for e in edges:
        term = F.when(col > F.lit(e), 1).otherwise(0)
        b = term if b is None else b + term
    return b.cast("int")


def tvd_from_counts(n_i: "list[int]", m_i: "list[int]") -> float:
    """Exact binned TVD from two aligned count vectors: one IEEE
    quotient over exact integer cross-products (Python ints never
    overflow). Shared by the streaming drift monitor's per-batch
    emit and the oracle-graded batch twin."""
    n_tot, m_tot = sum(n_i), sum(m_i)
    if not n_tot or not m_tot:
        return 0.0
    num = sum(abs(n * m_tot - m * n_tot) for n, m in zip(n_i, m_i))
    return num / (2.0 * n_tot * m_tot)


def binned_tvd_drift(
    df: DataFrame, group_col: str, value_col: str, n_bins: int = 10
) -> DataFrame:
    """Binned total-variation drift of each group's ``value_col``
    distribution against THE REST of the table — one row per group:
    ``(group, n_group, n_rest, tvd)`` with
    ``tvd = ½ Σ_bins |p_i − q_i|`` over equal-frequency bins cut at
    the GLOBAL distribution's exact ``i/n_bins`` percentiles.

    This is the Population-Stability-Index monitoring shape
    (reference-calibrated decile bins, per-bin share comparison) with
    the L1 distance in place of PSI's ``Σ(p−q)·ln(p/q)`` — TVD is
    the member of the family computable EXACTLY: a difference of two
    rational pmfs needs no logarithm, so the whole statistic runs in
    exact integer arithmetic (``|n_i·M − m_i·N|`` summed as
    decimal(38,0) — no int64 overflow even at trillion-row N·M; the
    oracle's HUGEINT matches — with one final IEEE quotient by
    ``2·N·M``) and the oracle reproduces it bit-for-bit, where PSI's
    ``ln`` would be at the mercy of two engines' libm. A group that
    is the entire table (``n_rest`` = 0) has no rest distribution
    and gets an explicit NULL ``tvd``. Complements
    :func:`ks_drift` (sup-norm on the full CDF grid): TVD on decile
    bins is what production monitors actually alert on — bounded
    state (n_bins cells per group) even when the value domain is
    unbounded, the same reason PSI won in industry.

    Distributed shape: one :func:`exact_percentiles` pass for the
    global edges (broadcast as ONE row), one combiner-reduced
    ``(group, bin)`` count aggregation — corpus scanned once, never
    re-shuffled; the grid completion (every group × every bin,
    absent bins count 0) and the TVD reduction run on
    |groups|·n_bins rows.
    """
    from maston_spark.relational import exact_percentiles

    n = int(n_bins)
    if n < 2:
        raise ValueError("n_bins must be >= 2")
    ps = [i / n for i in range(1, n)]
    als = [f"__e{i}" for i in range(1, n)]
    src = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    )
    edges = exact_percentiles(
        src.select(F.lit(1).alias("__gg"), "v"), "__gg", "v", ps, als
    ).drop("__gg")
    bucket = None
    for a in als:
        term = F.when(F.col("v") > F.col(a), 1).otherwise(0)
        bucket = term if bucket is None else bucket + term
    counts = (
        src.join(F.broadcast(edges))
        .groupBy("g", bucket.cast("int").alias("bin"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    groups = counts.select("g").distinct()
    bins = counts.sparkSession.range(n).select(F.col("id").cast("int").alias("bin"))
    grid = groups.crossJoin(F.broadcast(bins))
    filled = grid.join(counts, ["g", "bin"], "left").select(
        "g", "bin", F.coalesce("n", F.lit(0)).cast("long").alias("n")
    )
    glob = filled.groupBy("bin").agg(F.sum("n").alias("t"))
    sizes = filled.groupBy("g").agg(F.sum("n").alias("ng"))
    total = filled.agg(F.sum("n").alias("nt")).withColumn("__k", F.lit(1))
    j = (
        filled.join(F.broadcast(glob), "bin")
        .join(F.broadcast(sizes), "g")
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(total), "__k")
        .select(
            "g",
            "n",
            (F.col("t") - F.col("n")).alias("m"),
            "ng",
            (F.col("nt") - F.col("ng")).alias("mg"),
        )
    )
    # cross-products in decimal(38,0): n*mg overflows int64 once
    # N*M > ~9.2e18 (trillion-row corpora), well before the final
    # double's 2^53 mantissa matters — the SUM stays exact integer
    # arithmetic in both engines (DuckDB: HUGEINT), only the one
    # closing quotient is IEEE. A group that IS the whole table has
    # mg=0 — no rest distribution to compare against — and emits an
    # explicit NULL tvd rather than an engine-dependent /0 artifact.
    dec = "decimal(38,0)"
    return (
        j.groupBy("g", "ng", "mg")
        .agg(
            F.sum(
                F.abs(
                    F.col("n").cast(dec) * F.col("mg").cast(dec)
                    - F.col("m").cast(dec) * F.col("ng").cast(dec)
                )
            ).alias("__num")
        )
        .select(
            F.col("g").alias(group_col),
            F.col("ng").alias("n_group"),
            F.col("mg").alias("n_rest"),
            F.when(
                F.col("mg") > 0,
                F.col("__num").cast("double")
                / (F.lit(2.0) * F.col("ng") * F.col("mg")),
            ).alias("tvd"),
        )
        .orderBy(group_col)
    )


def benford_audit(
    df: DataFrame, value_col: str, max_magnitude: int = 12
) -> DataFrame:
    """Benford's-law first-digit audit of a positive numeric column —
    ``(digit, n_obs, obs_freq, exp_freq, abs_dev)`` for digits 1-9,
    with ``exp_freq = log10(1 + 1/d)`` (Benford 1938; Newcomb 1881) —
    the classic fabricated-/synthetic-data tell for naturally
    scale-spanning quantities (amounts, populations, file sizes):
    genuine multiplicative data leads with 1 ~30% of the time;
    uniform generators lead with every digit ~11%.

    Determinism: the expected frequencies are PYTHON-precomputed
    literals (no libm on the data path); the first significant digit
    comes from a fixed UNROLLED power-of-ten cascade
    (``floor(v / 10^k)`` for the magnitude bracket, IEEE division by
    an exact power of ten — identical in every engine), never from
    casting the float to a string (engines format doubles
    differently). Rows with ``value < 1`` or null are excluded (the
    sub-1 branch needs a multiply cascade; out of scope for the
    audit's usual targets). One combiner-reduced aggregation; the
    9-row output joins the 1-row total broadcast-side."""
    import math

    v = F.col(value_col).cast("double")
    digit = None
    for k in range(max_magnitude, -1, -1):
        p = float(10**k)
        clause = (v >= p) & (v < p * 10.0)
        d = F.floor(v / F.lit(p)).cast("int")
        digit = F.when(clause, d) if digit is None else digit.when(clause, d)
    counts = (
        df.filter(v.isNotNull() & (v >= 1) & (v < float(10 ** (max_magnitude + 1))))
        .groupBy(digit.alias("digit"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = counts.agg(F.sum("n_obs").cast("double").alias("__N"))
    exp_expr = None
    for d in range(1, 10):
        e = F.lit(math.log10(1.0 + 1.0 / d))
        exp_expr = (
            F.when(F.col("digit") == d, e)
            if exp_expr is None
            else exp_expr.when(F.col("digit") == d, e)
        )
    obs_raw = F.col("n_obs") / F.col("__N")
    return (
        counts.join(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(obs_raw, 6).alias("obs_freq"),
            F.round(exp_expr, 6).alias("exp_freq"),
            F.round(F.abs(obs_raw - exp_expr), 6).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def period_delta_topk(
    df: DataFrame,
    ts_col: str,
    item_col: str,
    split_ts: str,
    k: int = 15,
) -> DataFrame:
    """Period-over-period traffic-shift report: the k items whose row
    counts moved most between the before/after halves of ``split_ts``
    — ``(item, n_before, n_after, delta, pct_change)`` ordered by
    |delta| desc — the "what just became hot / went quiet" monitoring
    question a drift dashboard answers next to the distributional
    tests (:func:`ks_drift` asks IF the mix moved; this names WHO).

    Exact integer counts (one combiner-reduced aggregation with the
    period as a pivot condition — the corpus is scanned once, never
    joined against itself), a |items|-bounded shuffle, and a
    TakeOrdered top-k. ``pct_change`` is NULL for new items (no
    before-base); ties break by item for a total order."""
    split = F.lit(split_ts).cast("timestamp")
    per = (
        df.filter(F.col(ts_col).isNotNull() & F.col(item_col).isNotNull())
        .groupBy(F.col(item_col).alias("item"))
        .agg(
            F.sum(
                F.when(F.col(ts_col) < split, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_before"),
            F.sum(
                F.when(F.col(ts_col) >= split, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_after"),
        )
    )
    delta = F.col("n_after") - F.col("n_before")
    return (
        per.select(
            "item",
            "n_before",
            "n_after",
            delta.alias("delta"),
            F.when(
                F.col("n_before") > 0,
                F.round(
                    delta.cast("double") / F.col("n_before").cast("double"), 6
                ),
            ).alias("pct_change"),
        )
        .orderBy(F.abs(F.col("delta")).desc(), F.asc("item"))
        .limit(k)
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    sample of one numeric column — the credit-scoring/ML-monitoring
    standard (PSI < 0.1 stable, 0.1–0.25 drifting, > 0.25 act): one
    row per bin ``(bin, n_ref, n_cur, p_ref, p_cur, psi_term)`` with
    the global ``psi`` repeated on each row. The third drift lens
    next to :func:`ks_drift` (sup-norm) and :func:`binned_tvd_drift`
    (L1): PSI's log ratio punishes bins that nearly EMPTY, which TVD
    underweights and KS can miss entirely off the mode.

    Bins are the reference deciles (``ref_bin_edges`` — the same
    fixed-edge discipline as the streaming drift monitor, so a
    production monitor and this audit cannot disagree on binning).
    Laplace(+1) smoothing keeps empty bins finite AND keeps every
    proportion an exact integer rational; each ``(p−q)·ln(p/q)``
    term rounds to the 9-grid before the n_bins-term decimal sum
    (bounded by the bin count, never the data). Cost: one driver
    percentile fit on the reference + one combiner-reduced count
    aggregation per side."""
    edges = ref_bin_edges(ref, value_col, n_bins)
    spark = ref.sparkSession
    v = F.col(value_col).cast("double")

    def counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.filter(v.isNotNull())
            .select(bucket_of_edges(v, edges).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias(out))
        )

    grid = spark.range(n_bins).select(F.col("id").cast("int").alias("bin"))
    f = (
        grid.join(counts(ref, "__nr"), "bin", "left")
        .join(counts(cur, "__nc"), "bin", "left")
        .select(
            "bin",
            F.coalesce("__nr", F.lit(0)).cast("long").alias("n_ref"),
            F.coalesce("__nc", F.lit(0)).cast("long").alias("n_cur"),
        )
    )
    tot = f.agg(
        F.sum("n_ref").cast("long").alias("__tr"),
        F.sum("n_cur").cast("long").alias("__tc"),
    )
    j = f.join(F.broadcast(tot))
    p = (F.col("n_ref") + 1).cast("double") / (F.col("__tr") + n_bins).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (F.col("__tc") + n_bins).cast("double")
    term = F.round((p - q) * F.log(p / q), 9)
    per = j.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round(p, 6).alias("p_ref"),
        F.round(q, 6).alias("p_cur"),
        term.alias("psi_term"),
    )
    tot_psi = per.agg(
        F.round(F.sum(F.col("psi_term").cast("decimal(28,9)")).cast("double"), 6).alias(
            "psi"
        )
    )
    return (
        per.join(F.broadcast(tot_psi))
        .select("bin", "n_ref", "n_cur", "p_ref", "p_cur", "psi_term", "psi")
        .orderBy("bin")
    )


def mutual_information(
    df: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Mutual information (nats) between two categorical columns,
    with the entropies and the min-entropy-normalized NMI — one row
    ``(n_rows, h_a, h_b, mi, nmi)``. The feature-selection /
    redundancy number beside :func:`chi2_contingency`: chi-square
    asks "dependent at all?", MI says HOW MANY nats one column
    carries about the other (NMI = 1 ⇔ one determines the other).

    Exact shape: one combiner-reduced (a, b) contingency aggregation
    (≤ |A|·|B| cells — the corpus is scanned once); marginals derive
    from the cells; every ``p·ln(...)`` term is an exact integer
    rational through the log and rounds to the 6-grid before the
    cell-bounded decimal sum (the oracle mirrors the same grid). NULL in either column drops the row
    (the library convention). Zero entropy on either side (a
    constant column) emits NULL nmi."""
    cells = (
        df.select(
            F.col(a_col).cast("string").alias("__a"),
            F.col(b_col).cast("string").alias("__b"),
        )
        .filter(F.col("__a").isNotNull() & F.col("__b").isNotNull())
        .groupBy("__a", "__b")
        .agg(F.count(F.lit(1)).cast("long").alias("__n"))
    )
    wa = Window.partitionBy("__a")
    wb = Window.partitionBy("__b")
    withm = cells.select(
        "__a",
        "__b",
        "__n",
        F.sum("__n").over(wa).alias("__na"),
        F.sum("__n").over(wb).alias("__nb"),
    )
    dec = "decimal(28,9)"
    nd = F.col("__N").cast("double")
    agg = withm.groupBy().agg(
        F.sum("__n").cast("long").alias("__N"),
        F.sum(
            F.round(
                F.col("__n").cast("double")
                * F.log(
                    F.col("__n").cast("double")
                    / (F.col("__na").cast("double") * F.col("__nb").cast("double"))
                ),
                6,
            ).cast(dec)
        ).alias("__smi"),
    )
    # MI = (1/N)·Σ n·ln(n·N/(na·nb)) = (1/N)·Σ n·ln(n/(na·nb)) + ln(N)
    mi = F.col("__smi").cast("double") / nd + F.log(nd)
    # entropies from the marginal tables (cell-bounded)
    ha_t = (
        cells.groupBy("__a")
        .agg(F.sum("__n").cast("long").alias("__na"))
        .agg(
            F.sum(
                F.round(
                    F.col("__na").cast("double") * F.log(F.col("__na").cast("double")),
                    6,
                ).cast(dec)
            ).alias("__sa")
        )
    )
    hb_t = (
        cells.groupBy("__b")
        .agg(F.sum("__n").cast("long").alias("__nb"))
        .agg(
            F.sum(
                F.round(
                    F.col("__nb").cast("double") * F.log(F.col("__nb").cast("double")),
                    6,
                ).cast(dec)
            ).alias("__sb")
        )
    )
    j = agg.join(F.broadcast(ha_t)).join(F.broadcast(hb_t))
    h_a = F.log(nd) - F.col("__sa").cast("double") / nd
    h_b = F.log(nd) - F.col("__sb").cast("double") / nd
    # NMI from the ROUNDED components: near zero dependence the
    # unrounded mi and min-entropy are both 9-grid rounding noise
    # (~1e-8) and their ratio is garbage; the rounded values are what
    # both engines certify, so the quotient is stable by construction
    staged = j.select(
        F.col("__N").alias("n_rows"),
        F.round(h_a, 6).alias("h_a"),
        F.round(h_b, 6).alias("h_b"),
        F.round(mi, 6).alias("mi"),
    )
    return staged.select(
        "n_rows",
        "h_a",
        "h_b",
        "mi",
        F.when(
            F.least(F.col("h_a"), F.col("h_b")) > 0,
            F.round(F.col("mi") / F.least(F.col("h_a"), F.col("h_b")), 6),
        ).alias("nmi"),
    )


def fd_violations(
    df: DataFrame,
    pairs: "list[tuple[str, str]]",
) -> DataFrame:
    """Functional-dependency profile for candidate ``det → dep``
    pairs — per pair ``(determinant, dependent, n_rows, n_det_values,
    n_violating, violation_rate, repair_rows, coverage)``: does the
    determinant FUNCTIONALLY determine the dependent, and if not,
    how far off is the data? ``n_violating`` counts determinant
    values carrying >1 distinct dependent; ``repair_rows`` is the
    MINIMUM number of rows whose dependent must change to enforce
    the FD (rows − Σ per-determinant majority count — the exact
    repair cost, Bohannon et al. 2005); ``coverage`` is its
    complement share. The discovery companion to
    :func:`constraint_report`'s enforcement (a violated FD is either
    a data bug or a falsified schema assumption — both worth a row
    in the audit).

    Exact shape per pair: one (det, dep) count aggregation, one det
    re-aggregation (majority via max(count)), one bounded close —
    two combiner-reduced shuffles on the determinant key, all
    integers; rates are single IEEE divisions (round 6). Rows with a
    NULL determinant drop (an FD says nothing about NULL keys); a
    NULL dependent counts as a value (two rows (k, NULL) and (k, x)
    DO violate)."""
    if not pairs:
        raise ValueError("fd_violations: need at least one (det, dep) pair")
    outs = []
    for det, dep in pairs:
        cells = (
            df.filter(F.col(det).isNotNull())
            .groupBy(F.col(det).alias("__k"), F.col(dep).alias("__v"))
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        per_k = cells.groupBy("__k").agg(
            F.count(F.lit(1)).cast("long").alias("__nv"),
            F.max("__c").alias("__mx"),
            F.sum("__c").cast("long").alias("__nk"),
        )
        agg = per_k.agg(
            F.sum("__nk").cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_det_values"),
            F.sum((F.col("__nv") > 1).cast("long")).alias("n_violating"),
            F.sum("__mx").cast("long").alias("__keep"),
        )
        outs.append(
            agg.select(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_rows",
                "n_det_values",
                "n_violating",
                F.round(
                    F.col("n_violating").cast("double")
                    / F.col("n_det_values").cast("double"),
                    6,
                ).alias("violation_rate"),
                (F.col("n_rows") - F.col("__keep")).alias("repair_rows"),
                F.round(
                    F.col("__keep").cast("double")
                    / F.col("n_rows").cast("double"),
                    6,
                ).alias("coverage"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("determinant", "dependent")


def information_gain(
    df: DataFrame,
    label_col: str,
    feature_cols: "list[str]",
) -> DataFrame:
    """Information-gain feature ranking — per feature ``(feature,
    n_rows, h_label, h_feature, mi, nmi)``: the mutual information
    of each candidate feature with the label (one
    :func:`mutual_information` contingency pass per feature, unioned
    — the multi-column feature-selection sweep next to the
    single-pair q248 audit). Read ``mi`` to rank features, ``nmi``
    to spot a feature that simply RESTATES the label (leakage).
    Same exactness contract as :func:`mutual_information`."""
    if not feature_cols:
        raise ValueError("information_gain: need at least one feature column")
    outs = []
    for c in feature_cols:
        mi = mutual_information(df, label_col, c)
        outs.append(
            mi.select(
                F.lit(c).alias("feature"),
                "n_rows",
                F.col("h_a").alias("h_label"),
                F.col("h_b").alias("h_feature"),
                "mi",
                "nmi",
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("feature")


def k_anonymity_audit(
    df: DataFrame,
    qi_cols: "list[str]",
    sensitive_col: str,
    thresholds: "tuple[int, ...]" = (2, 5, 10),
) -> DataFrame:
    """k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    2007) — one row ``(n_rows, n_classes, k_min, l_min,
    rows_unique_share, rows_below_k{t}_share..., rows_l1_share)``:
    group rows into equivalence classes on the quasi-identifier
    columns, then report the smallest class (``k_min`` — the
    re-identification floor), the share of rows in classes below
    each ``k`` threshold, the smallest per-class count of DISTINCT
    sensitive values (``l_min``), and the share of rows in classes
    where every member shares ONE sensitive value (``rows_l1_share``
    — attribute disclosure needs no re-identification at all). The
    release gate a training-data pipeline runs before shipping
    user-derived rows: PII scrubbing (q75) removes direct
    identifiers; THIS measures whether the quasi-identifiers still
    single people out.

    Exactness: pure integer counting — two combiner-reduced
    aggregations (``(QI, sensitive)`` then ``QI``), a |classes|-row
    close, and micro-grid shares via integral half-away arithmetic
    (nonneg operands). NULL QI values form their own class (NULL is
    a value an attacker observes); NULL sensitive counts as a
    distinct value.

    Scale shape: the shuffle carries equivalence classes, never raw
    rows twice — |classes| ≤ rows and typically ≪; the output is
    ONE row."""
    if not qi_cols:
        raise ValueError("k_anonymity_audit: need at least one QI column")
    cells = df.groupBy(
        *[F.col(c) for c in qi_cols], F.col(sensitive_col).alias("__sv")
    ).agg(F.count(F.lit(1)).cast("long").alias("__n"))
    return k_anonymity_from_counts(cells, qi_cols, thresholds)


def k_anonymity_from_counts(
    cells: DataFrame,
    qi_cols: "list[str]",
    thresholds: "tuple[int, ...]" = (2, 5, 10),
) -> DataFrame:
    """The k-anonymity/l-diversity closing math over a
    PRE-AGGREGATED ``(qi..., __sv, __n)`` cell-count frame — shared
    by :func:`k_anonymity_audit` (one batch scan) and the streaming
    privacy gate (:func:`maston_spark.streaming.topology.
    privacy_gate_topology`, whose durable state IS such a cell table
    folded additively across micro-batches), so the two paths cannot
    diverge on the statistic. Same output contract and integer
    exactness as :func:`k_anonymity_audit`."""
    classes = cells.groupBy(*[F.col(c) for c in qi_cols]).agg(
        F.sum("__n").cast("long").alias("__k"),
        F.count(F.lit(1)).cast("long").alias("__l"),
    )
    share = lambda num: F.expr(  # noqa: E731
        f"(2 * {num} * 1000000 + n_rows) div (2 * n_rows)"
    ).cast("double") / F.lit(1e6)
    aggs = [
        F.sum("__k").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.min("__k").alias("k_min"),
        F.min("__l").alias("l_min"),
        F.coalesce(F.sum(F.when(F.col("__k") == 1, F.col("__k"))), F.lit(0))
        .cast("long")
        .alias("__u"),
        F.coalesce(F.sum(F.when(F.col("__l") == 1, F.col("__k"))), F.lit(0))
        .cast("long")
        .alias("__l1"),
    ]
    for t in thresholds:
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("__k") < int(t), F.col("__k"))), F.lit(0)
            )
            .cast("long")
            .alias(f"__b{int(t)}")
        )
    agg = classes.agg(*aggs)
    out = [
        F.col("n_rows"),
        F.col("n_classes"),
        F.col("k_min"),
        F.col("l_min"),
        share("__u").alias("rows_unique_share"),
    ]
    for t in thresholds:
        out.append(share(f"__b{int(t)}").alias(f"rows_below_k{int(t)}_share"))
    out.append(share("__l1").alias("rows_l1_share"))
    return agg.select(*out)


# Contract bound on the driver-collected distinct-value histogram
# (voptimal_histogram / selectivity_audit): the operators require
# pre-gridded values, m distinct <= ~10^3 by their documented
# precondition, and the v-optimal DP is O(m^2) driver-side. 4096
# gives 4x headroom over the contract while keeping both the collect
# and the DP trivially bounded.
_HIST_DISTINCT_MAX = 4096


def _bounded_value_histogram(
    df: DataFrame, value_col: str, caller: str
) -> "list[tuple[int, int]]":
    """ONE corpus pass to the distinct-value histogram, collected as
    driver metadata — ENFORCING the pre-grid contract (round-17,
    VERDICT r16 "what's wrong" #1): the limit(m_max+1) collect makes
    a contract-violating high-cardinality column raise with a
    diagnosis instead of OOMing the driver at scale."""
    v = F.col(value_col).cast("long")
    hist = (
        df.filter(v.isNotNull())
        .groupBy(v.alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("__w"))
        .limit(_HIST_DISTINCT_MAX + 1)
        .collect()
    )
    if len(hist) > _HIST_DISTINCT_MAX:
        raise ValueError(
            f"{caller}: {value_col} exceeds the pre-grid contract bound "
            f"({_HIST_DISTINCT_MAX} distinct values) — grid/bucket the "
            "column upstream (the operator's histogram is driver-bounded "
            "metadata, not a corpus-sized collect)"
        )
    return sorted((int(r["__v"]), int(r["__w"])) for r in hist)


def voptimal_histogram(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
) -> DataFrame:
    """V-optimal histogram (Jagadish et al. 1998 — the
    SSE-minimizing bucket boundaries an optimizer's statistics
    should store, vs the equi-depth buckets everyone defaults to) —
    ``n_buckets`` rows ``(bucket, v_lo, v_hi, n_rows, sse)`` whose
    boundary choice MINIMIZES total within-bucket variance mass
    Σ(v−v̄)²·w. Buckets answer "where does the distribution actually
    bend": a heavy spike gets its own tight bucket, a flat tail one
    wide one — the selectivity-estimation quality difference is the
    whole point of the construction.

    Exactness — dynamic programming decided entirely in integers:
    interval SSE is the rational ``(N·Σwv² − (Σwv)²)/N`` floored to
    an exact integer via decimal ``div`` (one deterministic grid),
    and every DP level is a min over integer costs with ties broken
    on the SMALLEST split index (two aggregations per level — min
    cost, then min split achieving it — never a float compare).
    The oracle replays the identical recurrence.

    Scale shape (round-16 optimization): ONE corpus pass collapses to
    the bounded distinct-value histogram (the exact_percentiles
    precondition — pre-grid continuous values; m distinct ≤ ~10³ BY
    CONTRACT), and that m-row histogram is driver-bounded METADATA —
    the same class of bounded collect as the Lloyd centroid fold or
    q305's boundary summary. The DP then runs driver-side over exact
    Python/numpy integers (identical floor-division grid and
    min-cost/min-split tie-breaks — the oracle replays the same
    recurrence), replacing the previous in-plan m²-row crossJoin +
    per-level joins + n_buckets driver round-trips with ONE job and
    one m-row collect (guide §2.4/§5: the shuffles existed only to
    shepherd bounded metadata through the cluster; q293 measured
    3.15 → 1.08 s at sf0.1, plan 78 → 2 Exchange mentions)."""
    if n_buckets < 2:
        raise ValueError("voptimal_histogram: need n_buckets >= 2")
    vals = _bounded_value_histogram(df, value_col, "voptimal_histogram")
    buckets = _voptimal_dp(vals, int(n_buckets))
    spark = df.sparkSession
    schema = "bucket int, v_lo long, v_hi long, n_rows long, sse double"
    if not buckets:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        [(b, lo_v, hi_v, n, float(sse)) for b, lo_v, hi_v, n, sse in buckets],
        schema,
    ).orderBy("bucket")


def _voptimal_dp(
    vals: "list[tuple[int, int]]", n_buckets: int
) -> "list[tuple[int, int, int, int, int]]":
    """Exact v-optimal DP over a sorted (value, weight) histogram —
    returns ``[(bucket, v_lo, v_hi, n_rows, sse_int), ...]``.

    Arithmetic contract (bit-identical to the SQL oracle's HUGEINT
    replay and to the previous decimal(38,0) in-plan DP): interval
    SSE is ``(N·Σwv² − (Σwv)²) // N`` — the numerator is ≥ 0 by
    Cauchy–Schwarz, so floor division equals decimal ``div``'s
    truncation — and every level takes min cost with ties broken on
    the SMALLEST split index. A numpy int64 fast path is used only
    when an exact Python-int bound proves no intermediate can exceed
    int64; otherwise the pure-Python exact path runs (unbounded
    ints, same grid)."""
    m = len(vals)
    if m == 0:
        return []
    # prefix sums, 1-based, exact Python ints
    cw = [0] * (m + 1)
    cs = [0] * (m + 1)
    cs2 = [0] * (m + 1)
    for i, (val, wt) in enumerate(vals, start=1):
        cw[i] = cw[i - 1] + wt
        cs[i] = cs[i - 1] + val * wt
        cs2[i] = cs2[i - 1] + val * val * wt
    if m < n_buckets:
        # degenerate: fewer distinct values than buckets — one
        # zero-SSE bucket per distinct value (oracle replays this)
        edges = list(range(0, m + 1))
    else:
        edges = [0] + _voptimal_splits(cw, cs, cs2, m, n_buckets) + [m]

    def sse(j: int, k: int) -> int:
        n = cw[k] - cw[j - 1]
        num = n * (cs2[k] - cs2[j - 1]) - (cs[k] - cs[j - 1]) ** 2
        return num // n

    out = []
    bi = 0
    for b, e in zip(edges, edges[1:]):
        if e >= b + 1:
            bi += 1
            j, k = b + 1, e
            out.append(
                (bi, vals[j - 1][0], vals[k - 1][0], cw[k] - cw[j - 1], sse(j, k))
            )
    return out


def _voptimal_splits(cw, cs, cs2, m: int, n_buckets: int) -> "list[int]":
    """The DP proper: returns the sorted de-duplicated split-index
    chain (the former Spark arg-table walk). Levels are 1..n_buckets;
    level t's cost at i = min over s<i of (cost_{t-1}[s] + SSE(s+1,i)),
    split = the SMALLEST s achieving it (numpy argmin returns the
    first minimum — s ascends, so first == smallest)."""
    import numpy as np

    # exact overflow bound for every intermediate the DP touches:
    # |SSE numerator| ≤ N·Σwv² + (Σw·|v|)², level costs ≤ n_buckets·max_sse
    abs_cs = sum(
        abs(cs[i] - cs[i - 1]) for i in range(1, m + 1)
    )
    bound = (cw[m] * cs2[m] + abs_cs * abs_cs + 1) * (n_buckets + 1)
    if bound < 2**62:
        cw_a = np.array(cw, dtype=np.int64)
        cs_a = np.array(cs, dtype=np.int64)
        cs2_a = np.array(cs2, dtype=np.int64)
        idx = np.arange(m + 1)
        # S[s, i] = SSE(s+1, i) for 0 <= s < i <= m (garbage elsewhere)
        n_mat = cw_a[None, :] - cw_a[:, None]
        num = n_mat * (cs2_a[None, :] - cs2_a[:, None]) - (
            cs_a[None, :] - cs_a[:, None]
        ) ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            S = np.where(n_mat > 0, num // np.where(n_mat > 0, n_mat, 1), 0)
        big = np.int64(2**62)
        cost = np.where(idx >= 1, S[0], big)  # level 1: SSE(1, i)
        splits_tbl = []
        for _t in range(2, n_buckets + 1):
            # cand[s, i] = cost[s] + S[s, i], valid for 1 <= s < i
            cand = cost[:, None] + S
            valid = (idx[:, None] >= 1) & (idx[:, None] < idx[None, :]) & (
                cost[:, None] < big
            )
            cand = np.where(valid, cand, big)
            split = cand.argmin(axis=0)  # first (smallest) argmin
            cost = cand[split, idx]
            splits_tbl.append(split)
        chain = []
        i = m
        for split in reversed(splits_tbl):
            s = int(split[i])
            chain.append(s)
            i = s
        return sorted(set(chain))

    # exact fallback (unbounded ints) — same recurrence, same ties
    def sse(j: int, k: int) -> int:
        n = cw[k] - cw[j - 1]
        return (n * (cs2[k] - cs2[j - 1]) - (cs[k] - cs[j - 1]) ** 2) // n

    cost = {i: sse(1, i) for i in range(1, m + 1)}
    splits_tbl = []
    for _t in range(2, n_buckets + 1):
        nxt, split_t = {}, {}
        for i in range(2, m + 1):
            best = None
            for s in range(1, i):
                if s not in cost:
                    continue
                c = cost[s] + sse(s + 1, i)
                if best is None or c < best[0]:
                    best = (c, s)
            if best is not None:
                nxt[i], split_t[i] = best
        cost = nxt
        splits_tbl.append(split_t)
    chain = []
    i = m
    for split_t in reversed(splits_tbl):
        s = split_t[i]
        chain.append(s)
        i = s
    return sorted(set(chain))


def selectivity_audit(
    df: DataFrame,
    value_col: str,
    n_buckets: int = 4,
    n_preds: int = 6,
) -> DataFrame:
    """Histogram selectivity audit — the readout that justifies (or
    indicts) the optimizer's column statistics: for ``n_preds``
    deterministic range predicates over the column's domain, compare
    the TRUE row count against the estimate each histogram family
    gives under the uniform-within-bucket assumption — one row
    ``(pred_id, p_lo, p_hi, true_rows, est_equiwidth, est_voptimal,
    err_equiwidth, err_voptimal)`` per predicate. Equi-width is what
    engines default to; :func:`voptimal_histogram` is what Jagadish
    et al. argue they should store — this operator measures the
    difference in estimated-vs-actual rows on the same predicates,
    i.e. exactly the error a cost model would eat.

    Exactness: predicates are integer-derived from (vmin, vmax)
    (``p_lo = vmin + (k·span) div (n_preds+2)``, two-eighths wide);
    both histograms store ``(v_lo, v_hi, n_rows)`` with OBSERVED
    bounds; a bucket's contribution to a predicate is the exact
    rational ``(n·overlap·10⁶) div width`` in decimal(38,0) (the
    products exceed int64 at corpus scale); true counts are
    conditional folds in ONE corpus pass. The oracle replays every
    formula, including the v-optimal DP.

    Scale shape (round-16 optimization): ONE corpus pass collapses
    to the bounded distinct-value histogram (the voptimal
    precondition: integer pre-grid values, m distinct ≤ ~10³), which
    is collected once as driver-bounded metadata; vmin/vmax, the
    TRUE counts, the observed equi-width buckets, the v-optimal DP
    and all |preds|×|buckets| estimate arithmetic then run
    driver-side over exact Python ints — exactly how the SQL oracle
    computes them from its own ``h`` CTE. This replaces the previous
    FOUR full corpus passes (min/max agg, conditional-fold truth
    agg, equi-width groupBy, voptimal's own histogram pass) with one
    (guide §1.2 step 1 / §2.4; q298 measured 4.68 → 1.00 s at sf0.1,
    plan 94 → 2 Exchange mentions)."""
    if n_preds < 1:
        raise ValueError("selectivity_audit: need n_preds >= 1")
    spark = df.sparkSession
    out_schema = (
        "pred_id int, p_lo long, p_hi long, true_rows long,"
        " est_equiwidth double, est_voptimal double,"
        " err_equiwidth double, err_voptimal double"
    )
    vals = _bounded_value_histogram(df, value_col, "selectivity_audit")
    if not vals:
        return spark.createDataFrame([], out_schema)
    vmin, vmax = vals[0][0], vals[-1][0]
    span = vmax - vmin + 1
    denom = int(n_preds) + 2
    preds = []
    for k in range(int(n_preds)):
        p_lo = vmin + (k * span) // denom
        p_hi = vmin + ((k + 2) * span) // denom - 1
        preds.append((k, p_lo, max(p_lo, p_hi)))

    # observed equi-width buckets from the histogram (same grouping
    # grid the corpus-pass groupBy used — values ARE the histogram)
    ew_cells: dict = {}
    for val, wt in vals:
        cell = ((val - vmin) * int(n_buckets)) // span
        lo_v, hi_v, n = ew_cells.get(cell, (val, val, 0))
        ew_cells[cell] = (min(lo_v, val), max(hi_v, val), n + wt)
    ew = list(ew_cells.values())
    vo = [
        (lo_v, hi_v, n)
        for _b, lo_v, hi_v, n, _sse in _voptimal_dp(vals, int(n_buckets))
    ]

    def estimate(buckets, p_lo: int, p_hi: int) -> int:
        em = 0
        for v_lo, v_hi, n in buckets:
            ov_lo, ov_hi = max(p_lo, v_lo), min(p_hi, v_hi)
            if ov_hi >= ov_lo:
                em += (n * (ov_hi - ov_lo + 1) * 1000000) // (v_hi - v_lo + 1)
        return em

    rows = []
    for k, p_lo, p_hi in preds:
        true_rows = sum(wt for val, wt in vals if p_lo <= val <= p_hi)
        em_ew = estimate(ew, p_lo, p_hi)
        em_vo = estimate(vo, p_lo, p_hi)
        rows.append(
            (
                k,
                p_lo,
                p_hi,
                true_rows,
                float(em_ew) / 1e6,
                float(em_vo) / 1e6,
                float(abs(em_ew - true_rows * 1000000)) / 1e6,
                float(abs(em_vo - true_rows * 1000000)) / 1e6,
            )
        )
    return spark.createDataFrame(rows, out_schema).orderBy("pred_id")


def disproportionality_signals(
    df: DataFrame,
    item_col: str,
    event_col: str,
    min_count: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Disproportionality signal detection (Evans et al. 2001 PRR;
    Rothman ROR — pharmacovigilance canon, applied here as a corpus
    surveillance audit): for each (item, event) cell of a 2-way
    reporting table, the proportional reporting ratio
    ``PRR = [a/(a+b)] / [c/(c+d)]`` and reporting odds ratio
    ``ROR = ad/bc`` against the rest-of-table background — "which
    sources disproportionately carry which flags" ranked by signal
    strength, the screening statistic that flags a (source, defect)
    association BEFORE anyone hypothesizes it (chi-square q-family
    tests a chosen pair; this scans all cells).

    Exactness: a/b/c/d are exact int64 cell/margin counts off ONE
    combiner-reduced aggregation; PRR and ROR close as half-away
    micro-grid rationals in decimal(38,0) (``a·(c+d)`` style products
    overflow int64 at corpus scale). Cells with ``c = 0`` emit NULL
    prr (no background to compare against); ``b·c = 0`` emits NULL
    ror. Cells below ``min_count`` reports are suppressed (the
    standard screening floor — a 1-report cell "signals" on noise).

    Scale shape: shuffle bounded by |items|×|events| cells; margins
    are two slim aggs broadcast back; top-k is a TakeOrdered."""
    dec = "decimal(38,0)"
    base = df.filter(
        F.col(item_col).isNotNull() & F.col(event_col).isNotNull()
    ).select(
        F.col(item_col).alias("item"), F.col(event_col).alias("event")
    )
    cells = base.groupBy("item", "event").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    item_m = cells.groupBy("item").agg(
        F.sum("a").cast("long").alias("__ni")
    )
    event_m = cells.groupBy("event").agg(
        F.sum("a").cast("long").alias("__ne")
    )
    total = cells.agg(F.sum("a").cast("long").alias("__nt"))
    j = (
        cells.join(F.broadcast(item_m), "item")
        .join(F.broadcast(event_m), "event")
        .join(F.broadcast(total))
        .select(
            "item",
            "event",
            "a",
            (F.col("__ni") - F.col("a")).alias("b"),
            (F.col("__ne") - F.col("a")).alias("c"),
            (F.col("__nt") - F.col("__ni") - F.col("__ne") + F.col("a")).alias(
                "d"
            ),
            F.col("__ni").alias("n_item"),
            F.col("__ne").alias("n_event"),
            F.col("__nt").alias("n_total"),
        )
        .filter(F.col("a") >= int(min_count))
    )
    prr = F.when(
        F.col("c") > 0,
        F.expr(
            f"(2 * cast(a as {dec}) * (c + d) * 1000000"
            f" + cast(a + b as {dec}) * c)"
            f" div (2 * cast(a + b as {dec}) * c)"
        ).cast("double")
        / F.lit(1e6),
    )
    ror = F.when(
        (F.col("b") > 0) & (F.col("c") > 0),
        F.expr(
            f"(2 * cast(a as {dec}) * d * 1000000"
            f" + cast(b as {dec}) * c)"
            f" div (2 * cast(b as {dec}) * c)"
        ).cast("double")
        / F.lit(1e6),
    )
    return (
        j.select(
            "item",
            "event",
            F.col("a").alias("n_item_event"),
            "n_item",
            "n_event",
            "n_total",
            prr.alias("prr"),
            ror.alias("ror"),
        )
        .orderBy(
            F.desc_nulls_last("prr"), F.asc("item"), F.asc("event")
        )  # explicit NULLS LAST: Spark's desc default, pinned so the
        # oracle's ORDER BY ... DESC NULLS LAST is identical
        .limit(top_k)
    )


def wasserstein_drift(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Two-sample Wasserstein-1 (earth-mover) drift of each group's
    ``value_col`` distribution against THE REST of the table — one
    row per group ``(group, n_group, n_rest, w1)`` with
    ``W1 = ∫|F_group − F_rest| dx`` — the third drift geometry beside
    :func:`ks_drift`'s sup-norm and :func:`binned_tvd_drift`'s
    bin-mass L1: KS sees only the worst single crossing, TVD ignores
    HOW FAR mass moved, W1 charges mass × distance, which is what a
    "the whole length profile shifted 40 tokens right" drift looks
    like (big W1, modest KS).

    Cross-engine exactness: over the merged value grid, the scaled
    integrand ``|n·cum_g(x) − n_g·cum_all(x)| · gap(x)`` (the
    rest-CDF eliminated algebraically) folds EXACTLY in
    decimal(38,0), and the reported ``w1`` is ONE sign-free
    half-away micro division by ``n_g · n_rest``.

    Distributed shape + PRECONDITION: identical to :func:`ks_drift`
    — one corpus aggregation to |values|×|groups| count rows,
    per-group cumulative windows over the bounded grid, one
    |values|-row partition-less window; ``value_col`` must be
    discrete or pre-binned."""
    from maston_spark.caching import scoped_persist

    dec = "decimal(38,0)"
    counts = scoped_persist(
        df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vals = counts.select("v").distinct().withColumn("__k", F.lit(1))
    groups = counts.select("g").distinct().withColumn("__k", F.lit(1))
    grid = vals.join(groups, "__k").drop("__k")
    filled = grid.join(counts, ["g", "v"], "left").select(
        "g", "v", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    w = Window.partitionBy("g").orderBy("v")
    cum = filled.select(
        "g",
        "v",
        F.sum("c").over(w).alias("cum_g"),
        F.lead("v").over(w).alias("__nv"),
    )
    per_val = (
        counts.groupBy("v")
        .agg(F.sum("c").cast("long").alias("cv"))
        .withColumn("cum_all", F.sum("cv").over(Window.orderBy("v")))
        .select("v", "cum_all")
    )  # |values|-row frame — bounded by the discrete-domain contract
    sizes = counts.groupBy("g").agg(F.sum("c").cast("long").alias("n_group"))
    total = counts.agg(F.sum("c").cast("long").alias("__n"))
    sc = (
        cum.join(per_val, "v")
        .join(F.broadcast(sizes), "g")
        .join(F.broadcast(total))
        .filter(F.col("__nv").isNotNull())  # last grid point: both
        # CDFs are 1, the integrand past it is 0 — no gap to charge
        .select(
            "g",
            "n_group",
            (F.col("__n") - F.col("n_group")).alias("n_rest"),
            F.expr(
                f"abs(cast(__n as {dec}) * cum_g"
                f"    - cast(n_group as {dec}) * cum_all)"
                " * (__nv - v)"
            ).alias("__d"),
        )
    )
    return (
        sc.groupBy("g", "n_group", "n_rest")
        .agg(F.sum("__d").alias("__s"))
        .select(
            F.col("g").alias("group"),
            "n_group",
            "n_rest",
            F.expr(
                # greatest(·,1): ANSI evaluates the division even
                # under a when-guard, so a single-group input
                # (n_rest = 0) must never reach a 0 denominator —
                # the when() then degrades it to NULL, mirroring
                # ks_drift's NaN degradation under double division.
                "CASE WHEN n_rest > 0 THEN"
                " (2 * __s * 1000000 + cast(n_group as decimal(38,0)) * n_rest)"
                " div greatest(2 * cast(n_group as decimal(38,0)) * n_rest, 1)"
                " END"
            ).cast("double").alias("__w1m"),
        )
        .select(
            "group",
            "n_group",
            "n_rest",
            (F.col("__w1m") / F.lit(1e6)).alias("w1"),
        )
        .orderBy("group")
    )


def _encoding_run_summary(
    df: DataFrame,
    columns: "list[str]",
    order_cols: "list[str]",
) -> DataFrame:
    """The distributed half of :func:`encoding_advisor`: stacked
    generator scan + range partition on the (column, order, value)
    total order + per-(column, RANGE-partition) run-count window —
    one summary row per (column, __pid). Split out so the plan test
    can assert every Window carries the (column, __pid) partition
    spec (the single-task ``Window.partitionBy(column)`` regression
    q305 escaped once, measured 8.4× worse at 10×)."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # round-16 optimization (guide §2.3 — shuffle fewer bytes; §2.2 —
    # widen the map side): range-partition the PRE-EXPLODE rows on the
    # caller's order prefix, then explode to (column, value) pairs
    # AFTER the exchange. The former shape exploded first and ranged
    # on (column, order, value): |columns|× more shuffled rows, each
    # carrying a column-name string, and both the range-sampling pass
    # and the explode ran at the narrow scan parallelism. Equivalence:
    # boundaries cut on the full (order_cols) key, so ties stay in one
    # partition, every partition holds all columns for its order
    # range, and per column the pid-ordered concatenation of
    # (order, v)-sorted groups IS the old global (column, order, v)
    # order — the driver boundary fold is unchanged (q305 measured
    # 7.6 → ~4.0 s at sf0.1; the window phase was 4.8–5.3 s of the
    # before total vs 0.06 s for the distinct branch).
    ordered_in = df.repartitionByRange(
        n_parts, *[F.col(c).asc() for c in order_cols]
    ).withColumn("__pid", F.spark_partition_id())
    # ties in the caller's order sort by the value itself — without
    # a total order, run counting is engine-dependent (the synthetic
    # lineitem's (orderkey, linenumber) is not unique)
    ordered = ordered_in.select(
        *order_cols,
        "__pid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.coalesce(
                            F.col(c).cast("string"), F.lit("")
                        ).alias("v"),
                    )
                    for c in columns
                ]
            )
        ).alias("s"),
    ).select(*order_cols, "__pid", "s.column", "s.v")
    # per-(column, range-partition) window: thousands of bounded
    # groups instead of |columns| giant ones; rows keep the __pid the
    # RANGE partitioner assigned, so groups tile the global order and
    # spark_partition_id order IS the sort order across groups
    wp = Window.partitionBy("column", "__pid").orderBy(
        *[F.col(c).asc() for c in order_cols], F.col("v").asc()
    )
    runs = ordered.select(
        "column",
        "__pid",
        "v",
        F.row_number().over(wp).alias("__rn"),
        (~F.lag("v").over(wp).eqNullSafe(F.col("v")))
        .cast("long")
        .alias("__head"),
    ).withColumn("__head", F.coalesce(F.col("__head"), F.lit(1)))
    summary = runs.groupBy("column", "__pid").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.length("v")).cast("long").alias("sl"),
        F.sum("__head").cast("long").alias("runs"),
        F.sum(F.when(F.col("__head") == 1, F.length("v")))
        .cast("long")
        .alias("rl"),
        F.min_by("v", "__rn").alias("first_v"),
        F.max_by("v", "__rn").alias("last_v"),
    )
    return summary


def encoding_advisor(
    df: DataFrame,
    columns: "list[str]",
    order_cols: "list[str]",
) -> DataFrame:
    """Columnar encoding advisor — per column, the EXACT byte cost a
    writer would pay under the three classic parquet-ish encodings
    and the winner: ``(column, n_rows, n_distinct, n_runs,
    plain_bytes, dict_bytes, rle_bytes, best_encoding)`` — the
    physical-design statistic beside the compaction planner (q219),
    the z-order layout (q205) and the optimizer histograms
    (q293/q298): a 100 TB table's storage bill is decided by exactly
    these counts, and "should this column be dictionary- or
    run-length-encoded" is answerable from one profile pass instead
    of a rewrite experiment.

    Cost model (documented, exact integers): values are their string
    form (NULL → empty, counted); ``plain = Σlen + n`` (terminator
    per value), ``dict = (Σlen over distinct + d) + n·code_bytes``
    with ``code_bytes`` the smallest of {1,2,4,8} addressing ``d``
    values, ``rle = (Σlen over run heads + n_runs) + 4·n_runs``
    (a 4-byte run length per run). Runs are counted under the
    caller's ``order_cols`` sort — RLE is meaningless without a
    declared order, so the order IS part of the advisor's contract
    (pair with the z-order/compaction layout the table actually
    uses).

    Scale shape: ONE stacked-generator scan (the profile_* pattern —
    n×|columns| slim rows), then the TWO-PHASE distributed run count
    (the :func:`~maston_spark.relational.compaction_plan` /
    global_rank discipline): a ``Window.partitionBy(column)`` would
    make each profiled column ONE window partition — a single-task
    sort of the whole column, measured 8.4× at 10× data — so rows
    range-partition on the (column, order, value) total order, runs
    are counted per (column, RANGE-partition) window — a fully
    JVM-side codegen path, measured 2.6× faster at 10× than the
    Arrow/`mapInPandas` alternative — and each partition's
    |columns|-bounded boundary summary is folded on the driver
    (adjacent partitions whose edge values match merge one run);
    the remaining aggs are combiner-reduced and distinct costs
    shuffle only the distinct set. The windowed phase lives in
    :func:`_encoding_run_summary` so ``tests/test_plans.py`` can pin
    its (column, __pid) partition spec — the collect() fold below
    otherwise hides the Window from the returned frame's plan."""
    spark = df.sparkSession
    summary = _encoding_run_summary(df, columns, order_cols)
    # |partitions|×|columns| boundary rows — driver-bounded fold:
    # when partition p ends with the same (column, value) partition
    # p+1 starts with, their adjacent runs are ONE run
    parts = sorted(
        summary.collect(), key=lambda r: (r["column"], r["__pid"])
    )
    totals: dict = {}
    prev_col, prev_last = None, None
    for r in parts:
        t = totals.setdefault(
            r["column"], {"n_rows": 0, "sl": 0, "runs": 0, "rl": 0}
        )
        t["n_rows"] += r["n_rows"]
        t["sl"] += r["sl"]
        t["runs"] += r["runs"]
        t["rl"] += r["rl"]
        if prev_col == r["column"] and prev_last == r["first_v"]:
            t["runs"] -= 1
            t["rl"] -= len(r["first_v"])
        prev_col, prev_last = r["column"], r["last_v"]
    agg = spark.createDataFrame(
        [
            (c, t["n_rows"], t["sl"], t["runs"], t["rl"])
            for c, t in sorted(totals.items())
        ],
        "column string, n_rows long, __sl long, n_runs long, __rl long",
    )
    # distinct costs re-stack (column, value) pairs without the
    # order columns — the distinct set is all this branch shuffles
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.coalesce(
                            F.col(c).cast("string"), F.lit("")
                        ).alias("v"),
                    )
                    for c in columns
                ]
            )
        ).alias("s")
    ).select("s.column", "s.v")
    dist = (
        stacked
        .distinct()
        .groupBy("column")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.length("v")).cast("long").alias("__dl"),
        )
    )
    code = (
        F.when(F.col("n_distinct") <= 256, 1)
        .when(F.col("n_distinct") <= 65536, 2)
        .when(F.col("n_distinct") <= 4294967296, 4)
        .otherwise(8)
    )
    j = agg.join(dist, "column").select(
        "column",
        "n_rows",
        "n_distinct",
        "n_runs",
        (F.col("__sl") + F.col("n_rows")).alias("plain_bytes"),
        (
            F.col("__dl")
            + F.col("n_distinct")
            + F.col("n_rows") * code
        ).alias("dict_bytes"),
        (F.col("__rl") + F.lit(5) * F.col("n_runs")).alias("rle_bytes"),
    )
    best = (
        F.when(
            (F.col("dict_bytes") <= F.col("plain_bytes"))
            & (F.col("dict_bytes") <= F.col("rle_bytes")),
            F.lit("dict"),
        )
        .when(F.col("rle_bytes") <= F.col("plain_bytes"), F.lit("rle"))
        .otherwise(F.lit("plain"))
    )
    return j.select("*", best.alias("best_encoding")).orderBy("column")


def zone_map_audit(
    df: DataFrame,
    order_candidates: "list[str]",
    tiebreak_cols: "list[str]",
    predicates: "list[tuple[str, int, int]]",
    block_rows: int = 1024,
) -> DataFrame:
    """Zone-map data-skipping audit — for every (candidate sort
    column, range predicate) pair, the EXACT fraction of
    ``block_rows``-row zones a reader could prune under per-zone
    min/max statistics: ``(order_col, pred_col, lo, hi, n_blocks,
    n_read, skipped_frac)``. The physical-design trilogy's missing
    lens: q205's z-order WRITES a layout, q219 compacts it, q305
    prices its encodings — this one prices the SKIPPING, which is
    the number a 100 TB scan bill actually depends on ("sort by
    ship-date and the quantity predicate still reads every zone" is
    a measured fact here, not a guess, because sorting by one column
    clusters exactly the columns correlated with it).

    Zone semantics (both engines replay it bit-for-bit): rows take
    the TOTAL order (candidate, then ``tiebreak_cols`` — the caller
    must make it unique or block membership is ill-defined), zone id
    = (rank−1) div block_rows, and a zone must be READ by predicate
    [lo, hi] iff ``max(pred_col) ≥ lo AND min(pred_col) ≤ hi``
    (min/max ignore NULLs; an all-NULL zone never reads — the
    parquet row-group rule). ``skipped_frac`` rounds at 6 off exact
    integer zone counts.

    Scale shape: one two-phase :func:`~maston_spark.relational.
    global_rank` pass per candidate (the only full shuffles —
    |candidates| of them), a combiner-reduced per-zone min/max
    aggregation onto n/block_rows slim rows, and
    |candidates|·|predicates| result rows closed by broadcast
    arithmetic over the zone table. Never a partition-less window
    (plan-pinned at q305's standard)."""
    from maston_spark.relational import global_rank

    pred_cols = sorted({p for p, _, _ in predicates})
    out = None
    for c in order_candidates:
        ranked = global_rank(
            df.select(c, *tiebreak_cols, *[p for p in pred_cols if p != c and p not in tiebreak_cols]),
            [F.col(c).asc()] + [F.col(t).asc() for t in tiebreak_cols],
            rank_col="__rn",
        )
        from maston_spark.caching import scoped_persist

        # n/block_rows slim rows, persisted so each predicate's
        # close reads the zone table, not the ranked corpus
        zones = scoped_persist(
            ranked.groupBy(
                F.expr(f"(__rn - 1) div {int(block_rows)}")
                .cast("long")
                .alias("__z")
            ).agg(
                *[
                    m
                    for p in pred_cols
                    for m in (
                        F.min(F.col(p)).alias(f"__lo_{p}"),
                        F.max(F.col(p)).alias(f"__hi_{p}"),
                    )
                ]
            )
        )
        for p, lo, hi in predicates:
            read = (
                (F.col(f"__hi_{p}") >= F.lit(lo))
                & (F.col(f"__lo_{p}") <= F.lit(hi))
            ).cast("int")
            row = zones.agg(
                F.count(F.lit(1)).cast("long").alias("n_blocks"),
                F.sum(F.coalesce(read, F.lit(0))).cast("long").alias(
                    "n_read"
                ),
            ).select(
                F.lit(c).alias("order_col"),
                F.lit(p).alias("pred_col"),
                F.lit(int(lo)).cast("long").alias("lo"),
                F.lit(int(hi)).cast("long").alias("hi"),
                "n_blocks",
                "n_read",
                F.round(
                    1.0 - F.col("n_read") / F.col("n_blocks"), 6
                ).alias("skipped_frac"),
            )
            out = row if out is None else out.unionByName(row)
    return out.orderBy("order_col", "pred_col", "lo")
