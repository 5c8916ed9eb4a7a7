"""Sketch / graph / dominance analytics queries (SURVEY.md §2.2
engine-extension rows): mergeable-sketch estimation and the graph
analytics family beyond PageRank, each with a DuckDB oracle that
replays the estimator bit-for-bit (the estimates are graded, not
trusted).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from maston_spark.queries import query
from maston_spark.session import load_table


# ------------------------------------------------------- KMV cardinality


@query(
    "q167_kmv_distinct",
    oracle="""
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (SELECT event_type,
                 ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS h
          FROM d),
    r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h),
    s AS (SELECT event_type, count(*) AS n_seen,
                 max(CASE WHEN rn = 32 THEN h END) AS kth
          FROM r WHERE rn <= 32 GROUP BY event_type),
    e AS (SELECT event_type, count(*) AS n_exact FROM d GROUP BY event_type),
    est AS (SELECT s.event_type,
                   CASE WHEN n_seen < 32 THEN n_seen::DOUBLE
                        ELSE round(31.0 / (kth / 1152921504606846976.0), 4)
                   END AS n_distinct_est,
                   n_exact
            FROM s JOIN e ON s.event_type = e.event_type)
    SELECT event_type, n_distinct_est,
           n_exact AS n_distinct_exact,
           round(abs(n_distinct_est - n_exact), 4) AS abs_err
    FROM est
    """,
)
def q167_kmv_distinct(spark, sf_dir):
    """KMV (k-minimum-values) distinct-cardinality sketch per event
    type, graded against its own exact count. See
    :func:`maston_spark.sketches.kmv_distinct_by`.

    Scale shape: the sketch builds with NO shuffle of the corpus
    (per-partition k-smallest partials; only partitions × groups × k
    survivor rows move); the exact count here is report garnish and
    the one full distinct — at 100 TB you'd run the sketch alone.
    """
    from maston_spark.sketches import kmv_distinct_by

    ev = load_table(spark, sf_dir, "events")
    est = kmv_distinct_by(ev, "event_type", "user_id", k=32)
    exact = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_distinct_exact"))
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "n_distinct_est",
        "n_distinct_exact",
        F.round(
            F.abs(F.col("n_distinct_est") - F.col("n_distinct_exact")), 4
        ).alias("abs_err"),
    )


# ------------------------------------------------- KMV set operations


@query(
    "q168_kmv_set_ops",
    oracle="""
    WITH el AS (SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
                FROM documents),
    h AS (SELECT DISTINCT source,
                 ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
          FROM el),
    r AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM h),
    sk AS (SELECT source AS s, h FROM r WHERE rn <= 64),
    pairs AS (SELECT a.s AS set_a, b.s AS set_b
              FROM (SELECT DISTINCT s FROM sk) a,
                   (SELECT DISTINCT s FROM sk) b
              WHERE a.s < b.s),
    u0 AS (
      SELECT p.set_a, p.set_b, sk.h FROM pairs p JOIN sk ON sk.s = p.set_a
      UNION
      SELECT p.set_a, p.set_b, sk.h FROM pairs p JOIN sk ON sk.s = p.set_b),
    ur AS (SELECT set_a, set_b, h,
                  row_number() OVER (PARTITION BY set_a, set_b ORDER BY h) AS rn
           FROM u0),
    uk AS (SELECT * FROM ur WHERE rn <= 64),
    m AS (SELECT uk.set_a, uk.set_b, uk.h, uk.rn,
                 (a.h IS NOT NULL AND b.h IS NOT NULL) AS in_both
          FROM uk
          LEFT JOIN sk a ON a.s = uk.set_a AND a.h = uk.h
          LEFT JOIN sk b ON b.s = uk.set_b AND b.h = uk.h),
    agg AS (SELECT set_a, set_b, count(*) AS n_seen,
                   max(CASE WHEN rn = 64 THEN h END) AS kth,
                   sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS n_both
            FROM m GROUP BY 1, 2),
    fin AS (SELECT set_a, set_b, n_seen, n_both,
                   CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                        ELSE round(63.0 / (kth / 1152921504606846976.0), 4)
                   END AS est_union
            FROM agg)
    SELECT set_a, set_b, est_union,
           round(n_both::DOUBLE / n_seen, 6) AS est_jaccard,
           round((n_both::DOUBLE / n_seen) * est_union, 6) AS est_intersection
    FROM fin
    """,
)
def q168_kmv_set_ops(spark, sf_dir):
    """Theta-sketch-style set-operation estimates between every pair
    of document sources' token vocabularies (union / Jaccard /
    intersection from merged KMV sketches). See
    :func:`maston_spark.sketches.kmv_set_ops`.

    Scale shape: one corpus pass builds the per-source sketches
    (shuffle-free partials); the all-pairs stage touches ONLY sketch
    rows (|sources| × k), so comparing 10k sources costs the same
    corpus work as comparing 2.
    """
    from maston_spark.sketches import kmv_set_ops

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).distinct()
    return kmv_set_ops(toks, "source", "tok", k=64)


# ------------------------------------------- count-min heavy hitters


@query(
    "q169_cms_heavy_hitters",
    oracle="""
    WITH seeds AS (SELECT unnest(generate_series(0, 3)) AS seed),
    cells AS (
      SELECT seed,
             ('0x' || substr(md5(seed::VARCHAR || ':' || user_id::VARCHAR),
                             1, 15))::BIGINT % 64 AS bucket
      FROM events, seeds),
    sk AS (SELECT seed, bucket, count(*) AS cnt FROM cells GROUP BY 1, 2),
    items AS (SELECT DISTINCT user_id FROM events),
    probe AS (
      SELECT user_id, seed,
             ('0x' || substr(md5(seed::VARCHAR || ':' || user_id::VARCHAR),
                             1, 15))::BIGINT % 64 AS bucket
      FROM items, seeds),
    est AS (SELECT p.user_id, min(coalesce(sk.cnt, 0)) AS est_count
            FROM probe p
            LEFT JOIN sk ON sk.seed = p.seed AND sk.bucket = p.bucket
            GROUP BY 1),
    ex AS (SELECT user_id, count(*) AS exact_count FROM events GROUP BY 1)
    SELECT est.user_id, est_count, exact_count
    FROM est JOIN ex ON est.user_id = ex.user_id
    ORDER BY est_count DESC, est.user_id
    LIMIT 20
    """,
)
def q169_cms_heavy_hitters(spark, sf_dir):
    """Count-min-sketch heavy hitters: top-20 users by ESTIMATED
    event count from a 4×64 sketch, with the exact count beside (the
    one-sided `est ≥ exact` guarantee is visible in the output). See
    :func:`maston_spark.sketches.cms_estimate`.

    Scale shape: the sketch is one map-side-combinable aggregation to
    ≤ d·w rows; the probe is a broadcast join of that grid — neither
    the corpus nor the probe set shuffles. Deterministic md5 lanes
    make the estimates oracle-checkable.
    """
    from maston_spark.sketches import cms_estimate

    ev = load_table(spark, sf_dir, "events")
    est = cms_estimate(ev, ev, "user_id", depth=4, width=64)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_count"))
    return (
        est.withColumnRenamed("item", "user_id")
        .join(exact, "user_id")
        .orderBy(F.desc("est_count"), "user_id")
        .limit(20)
    )


# --------------------------------------------- Misra-Gries heavy hitters


@query(
    "q173_mg_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT doc_id, toks[i] AS t, i AS pos
      FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks
            FROM documents),
           LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) r
      WHERE toks[i] <> ''),
    items AS (
      SELECT CASE WHEN (doc_id + pos) % 5 = 0 THEN t
                  ELSE t || ':' || CAST(doc_id AS VARCHAR)
                         || ':' || CAST(pos AS VARCHAR) END AS item
      FROM toks),
    n AS (SELECT count(*) AS c FROM items)
    SELECT item, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM items GROUP BY 1
    HAVING count(*) > (SELECT c FROM n) / 256.0
    ORDER BY item
    """,
)
def q173_mg_heavy_hitters(spark, sf_dir):
    """Misra-Gries frequent-items discovery over a planted skewed
    domain: every 5th token position keeps its bare token (31 heavy
    items, ~0.6% of the stream each) while the rest become unique
    singletons — so the ≤256-counter per-partition sketch must evict
    constantly, and the guaranteed-superset candidate union plus the
    exact-confirm pass recovers exactly the items above n/256. See
    :func:`maston_spark.sketches.mg_heavy_hitters` (contrast with
    q169's count-min, which must be TOLD its probe items)."""
    from maston_spark.sketches import mg_heavy_hitters

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos0", "t"),
    ).filter(F.col("t") != "")
    items = toks.select(
        F.when(
            (F.col("doc_id") + F.col("pos0") + 1) % 5 == 0, F.col("t")
        )
        .otherwise(
            F.concat_ws(
                ":",
                F.col("t"),
                F.col("doc_id").cast("string"),
                (F.col("pos0") + 1).cast("string"),
            )
        )
        .alias("item")
    )
    return mg_heavy_hitters(items, "item", k=256).orderBy("item")


# ------------------------------------------------------------- AMS F2


@query(
    "q176_ams_f2",
    oracle="""
    WITH lanes AS (
      SELECT l,
             CAST(sum(CASE WHEN substring(md5('f2:'
                                 || CAST(o_custkey AS VARCHAR)), 17 + l, 1) >= '8'
                           THEN 1 ELSE -1 END) AS BIGINT) AS t
      FROM orders, (SELECT unnest(range(0, 16)) AS l) r
      GROUP BY l),
    est AS (SELECT CAST(sum(t * t) AS DOUBLE) / 16.0 AS f2_est FROM lanes),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
    ex AS (SELECT CAST(sum(f * f) AS BIGINT) AS f2_exact
           FROM (SELECT CAST(count(*) AS BIGINT) AS f
                 FROM orders GROUP BY o_custkey) g)
    SELECT n.n_rows, ex.f2_exact, est.f2_est,
           abs(est.f2_est - ex.f2_exact) / ex.f2_exact AS rel_err
    FROM n, ex, est
    """,
)
def q176_ams_f2(spark, sf_dir):
    """AMS second-moment estimate of the orders.o_custkey self-join
    size — the one-pass, O(lanes)-state answer to "how large would
    an equi-join on this key get?", graded against the exact
    Σf² it approximates. See
    :func:`maston_spark.sketches.ams_f2`."""
    from maston_spark.sketches import ams_f2

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return ams_f2(o, "o_custkey", n_lanes=16)


# --------------------------------------------- constraint suggestion


@query(
    "q180_constraint_suggest",
    oracle="""
    WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
      count(o_orderkey) AS nn_k, count(DISTINCT o_orderkey) AS nd_k,
      count(o_custkey) AS nn_c, count(DISTINCT o_custkey) AS nd_c,
      count(o_orderstatus) AS nn_s, count(DISTINCT o_orderstatus) AS nd_s,
      count(o_totalprice) AS nn_t, count(DISTINCT o_totalprice) AS nd_t,
      count(o_orderpriority) AS nn_p, count(DISTINCT o_orderpriority) AS nd_p,
      CAST(min(o_orderkey) AS DOUBLE) AS mn_k, CAST(max(o_orderkey) AS DOUBLE) AS mx_k,
      CAST(min(o_custkey) AS DOUBLE) AS mn_c, CAST(max(o_custkey) AS DOUBLE) AS mx_c,
      CAST(min(o_totalprice) AS DOUBLE) AS mn_t, CAST(max(o_totalprice) AS DOUBLE) AS mx_t
      FROM orders),
    v AS (SELECT
      string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS vs,
      string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS vp
      FROM orders)
    SELECT * FROM (
      SELECT 'o_orderkey' AS col_name, 'not_null' AS rule,
             CAST(NULL AS VARCHAR) AS param_values,
             CAST(NULL AS DOUBLE) AS param_lo, CAST(NULL AS DOUBLE) AS param_hi
      FROM m WHERE nn_k = n
      UNION ALL SELECT 'o_orderkey', 'unique', NULL, NULL, NULL
      FROM m WHERE nd_k = n AND nn_k = n
      UNION ALL SELECT 'o_orderkey', 'range', NULL, mn_k, mx_k FROM m
      UNION ALL SELECT 'o_custkey', 'not_null', NULL, NULL, NULL
      FROM m WHERE nn_c = n
      UNION ALL SELECT 'o_custkey', 'unique', NULL, NULL, NULL
      FROM m WHERE nd_c = n AND nn_c = n
      UNION ALL SELECT 'o_custkey', 'range', NULL, mn_c, mx_c FROM m
      UNION ALL SELECT 'o_orderstatus', 'not_null', NULL, NULL, NULL
      FROM m WHERE nn_s = n
      UNION ALL SELECT 'o_orderstatus', 'unique', NULL, NULL, NULL
      FROM m WHERE nd_s = n AND nn_s = n
      UNION ALL SELECT 'o_orderstatus', 'accepted_values',
             (SELECT vs FROM v), NULL, NULL
      FROM m WHERE nd_s BETWEEN 2 AND 10
      UNION ALL SELECT 'o_totalprice', 'not_null', NULL, NULL, NULL
      FROM m WHERE nn_t = n
      UNION ALL SELECT 'o_totalprice', 'unique', NULL, NULL, NULL
      FROM m WHERE nd_t = n AND nn_t = n
      UNION ALL SELECT 'o_totalprice', 'range', NULL, mn_t, mx_t FROM m
      UNION ALL SELECT 'o_orderpriority', 'not_null', NULL, NULL, NULL
      FROM m WHERE nn_p = n
      UNION ALL SELECT 'o_orderpriority', 'unique', NULL, NULL, NULL
      FROM m WHERE nd_p = n AND nn_p = n
      UNION ALL SELECT 'o_orderpriority', 'accepted_values',
             (SELECT vp FROM v), NULL, NULL
      FROM m WHERE nd_p BETWEEN 2 AND 10
    ) s ORDER BY col_name, rule
    """,
)
def q180_constraint_suggest(spark, sf_dir):
    """Deequ-style constraint suggestion over five orders columns:
    profile once, emit the not_null / unique / accepted_values /
    range rules the data currently satisfies — the generator whose
    output feeds constraint_report's enforcement. (The oracle
    instantiates the same conditional spec for this table; the
    accepted_values arms assume only the two low-cardinality columns
    can qualify, true of the TPC-H-ish generator at every sf.) See
    :func:`maston_spark.profiling.suggest_constraints`."""
    from maston_spark.profiling import suggest_constraints

    o = load_table(spark, sf_dir, "orders")
    return suggest_constraints(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    ).orderBy("col_name", "rule")


# ------------------------------------------------- join planning report


@query(
    "q181_join_planning",
    oracle="""
    WITH hc AS (SELECT DISTINCT
                  ('0x' || substr(md5(o_custkey::VARCHAR), 1, 15))::BIGINT AS h
                FROM orders),
    rc AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM hc),
    sc AS (SELECT count(*) AS n_seen, max(CASE WHEN rn = 64 THEN h END) AS kth
           FROM rc WHERE rn <= 64),
    lc AS (SELECT l,
             CAST(sum(CASE WHEN substring(md5(
                     CAST(o_custkey AS VARCHAR)), 17 + l, 1) >= '8'
                   THEN 1 ELSE -1 END) AS BIGINT) AS t
           FROM orders, (SELECT unnest(range(0, 16)) AS l) r
           WHERE o_custkey IS NOT NULL GROUP BY l),
    kc AS (SELECT
        (SELECT CAST(count(o_custkey) AS BIGINT) FROM orders) AS n_rows,
        (SELECT CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                ELSE round(63.0 / (kth / 1152921504606846976.0), 4) END
         FROM sc) AS n_distinct_est,
        (SELECT CAST(sum(t * t) AS DOUBLE) / 16.0 FROM lc) AS f2_est,
        (SELECT CAST(sum(f * f) AS BIGINT)
         FROM (SELECT CAST(count(*) AS BIGINT) AS f
               FROM orders WHERE o_custkey IS NOT NULL
               GROUP BY o_custkey) g) AS f2_exact),
    ho AS (SELECT DISTINCT
                  ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 15))::BIGINT AS h
                FROM lineitem),
    ro AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM ho),
    so AS (SELECT count(*) AS n_seen, max(CASE WHEN rn = 64 THEN h END) AS kth
           FROM ro WHERE rn <= 64),
    lo AS (SELECT l,
             CAST(sum(CASE WHEN substring(md5(
                     CAST(l_orderkey AS VARCHAR)), 17 + l, 1) >= '8'
                   THEN 1 ELSE -1 END) AS BIGINT) AS t
           FROM lineitem, (SELECT unnest(range(0, 16)) AS l) r
           WHERE l_orderkey IS NOT NULL GROUP BY l),
    ko AS (SELECT
        (SELECT CAST(count(l_orderkey) AS BIGINT) FROM lineitem) AS n_rows,
        (SELECT CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                ELSE round(63.0 / (kth / 1152921504606846976.0), 4) END
         FROM so) AS n_distinct_est,
        (SELECT CAST(sum(t * t) AS DOUBLE) / 16.0 FROM lo) AS f2_est,
        (SELECT CAST(sum(f * f) AS BIGINT)
         FROM (SELECT CAST(count(*) AS BIGINT) AS f
               FROM lineitem WHERE l_orderkey IS NOT NULL
               GROUP BY l_orderkey) g) AS f2_exact)
    SELECT 'orders.o_custkey' AS key_name, n_rows, n_distinct_est,
           f2_est, f2_exact FROM kc
    UNION ALL
    SELECT 'lineitem.l_orderkey', n_rows, n_distinct_est, f2_est, f2_exact
    FROM ko
    ORDER BY key_name
    """,
)
def q181_join_planning(spark, sf_dir):
    """Join-planning dashboard composing the sketch family: for each
    candidate join key, row count, KMV distinct-count estimate
    (k=64), and AMS F2 self-join-size estimate next to the exact
    sum(f^2) — the one-pass numbers that decide broadcast vs shuffle
    vs salt BEFORE a 100 TB join runs. See q167/q176 for the
    individual estimators.

    All sketch numbers for ALL candidate keys come from ONE fused
    job (:func:`maston_spark.sketches.join_key_profile` — one md5
    per row, unioned scans, one mapInPandas fold, one sketch-sized
    finisher shuffle); only ``f2_exact``, the report's declared
    garnish, takes its own combiner-reduced groupBy — also unioned
    across keys into a single shuffle. At 100 TB you'd run the
    profile alone."""
    from maston_spark.sketches import join_key_profile

    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    keys = [
        (o, "o_custkey", "orders.o_custkey"),
        (li, "l_orderkey", "lineitem.l_orderkey"),
    ]
    prof = join_key_profile(keys, k=64, n_lanes=16)

    vals = None
    for df, col, name in keys:
        part = df.filter(F.col(col).isNotNull()).select(
            F.lit(name).alias("key_name"), F.col(col).cast("string").alias("__v")
        )
        vals = part if vals is None else vals.unionByName(part)
    f2x = (
        vals.groupBy("key_name", "__v")
        .agg(F.count(F.lit(1)).cast("long").alias("__f"))
        .groupBy("key_name")
        .agg(F.sum(F.col("__f") * F.col("__f")).cast("long").alias("f2_exact"))
    )
    return (
        prof.join(F.broadcast(f2x), "key_name")
        .select("key_name", "n_rows", "n_distinct_est", "f2_est", "f2_exact")
        .orderBy("key_name")
    )


# ----------------------------------------------- quantile sketches


@query(
    "q191_quantile_sketch",
    oracle="""
    WITH src AS (SELECT l_returnflag AS g,
                        ('0x' || substr(md5(l_orderkey::VARCHAR || '#' ||
                                            l_linenumber::VARCHAR), 1, 15))::BIGINT AS h,
                        l_extendedprice::DOUBLE AS value
                 FROM lineitem),
    r AS (SELECT g, h, value,
                 row_number() OVER (PARTITION BY g ORDER BY h, value) AS rn
          FROM src),
    s AS (SELECT g, h, value FROM r WHERE rn <= 128),
    sv AS (SELECT g, value,
                  row_number() OVER (PARTITION BY g ORDER BY value, h) AS vr
           FROM s),
    m AS (SELECT g, count(*) AS m FROM s GROUP BY g),
    qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS qq),
    pk AS (SELECT g, qq, CAST(ceil(qq * m) AS INT) AS pick FROM m, qs),
    est AS (SELECT pk.g, pk.qq, sv.value AS est_q
            FROM pk JOIN sv ON sv.g = pk.g AND sv.vr = pk.pick),
    ev AS (SELECT g, value,
                  row_number() OVER (PARTITION BY g ORDER BY value) AS er
           FROM src),
    n AS (SELECT g, count(*) AS n FROM src GROUP BY g),
    pk2 AS (SELECT g, qq, CAST(ceil(qq * n) AS BIGINT) AS pick FROM n, qs),
    ex AS (SELECT pk2.g, pk2.qq, ev.value AS exact_q
           FROM pk2 JOIN ev ON ev.g = pk2.g AND ev.er = pk2.pick)
    SELECT est.g AS l_returnflag, est.qq, est.est_q, ex.exact_q,
           round(abs(est.est_q - ex.exact_q), 4) AS abs_err
    FROM est JOIN ex ON ex.g = est.g AND ex.qq = est.qq
    """,
)
def q191_quantile_sketch(spark, sf_dir):
    """Mergeable quantile sketch per return flag, graded BIT-FOR-BIT:
    the bottom-k-by-row-hash sample sketch (KMV discipline on the row
    domain, values carried) estimates four quantiles of
    l_extendedprice; the oracle replays the identical md5 sample and
    rank picks. See :func:`maston_spark.sketches.
    quantile_sample_sketch` for why the deterministic member of the
    quantile-sketch family is a hash sample and not KLL compaction
    (which is arrival-order-dependent; its rank-error contract is
    graded by q192 instead).

    Scale shape: the sketch builds in one corpus pass with no corpus
    shuffle (per-partition bottom-k fold, survivors only). The exact
    order statistics computed alongside are report garnish — the one
    full per-group sort — exactly like q167's exact distinct count;
    at 100 TB you'd run the sketch alone.
    """
    from pyspark.sql import Window

    from maston_spark.sketches import (
        quantile_sample_estimate,
        quantile_sample_sketch,
    )

    qs = [0.25, 0.5, 0.75, 0.95]
    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("#", "l_orderkey", "l_linenumber")
    sk = quantile_sample_sketch(li, "l_returnflag", key, "l_extendedprice", 128)
    est = quantile_sample_estimate(sk, "l_returnflag", qs).withColumnRenamed(
        "l_returnflag", "g"
    )

    src = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").cast("double").alias("value"),
    )
    # round-16 optimization (guide §2.5): the exact-rank garnish used
    # row_number() OVER (PARTITION BY g ORDER BY value) — one task
    # per return flag (3 tasks sort the whole corpus). Two-phase
    # global_rank over the (g, value) total order parallelizes the
    # sort range-wide; the per-group rank pick becomes a GLOBAL rank
    # pick at offset(g) + ceil(q·n). Ties in value leave the rank
    # linearization arbitrary in BOTH forms, but the VALUE at a given
    # rank is order-unique, so exact_q is unchanged.
    from maston_spark.relational import global_rank

    ranked = global_rank(src, [F.col("g"), F.col("value")], "er")
    n = src.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    wg = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    # |groups|-row frame (3 return flags) — bounded window by contract
    noff = n.select(
        "g", "n", F.coalesce(F.sum("n").over(wg), F.lit(0)).alias("__off")
    )
    qdf = spark.createDataFrame([(float(q),) for q in qs], "qq double")
    pk2 = (
        noff.crossJoin(F.broadcast(qdf))
        .withColumn(
            "pick",
            (F.col("__off") + F.ceil(F.col("qq") * F.col("n"))).cast("long"),
        )
        .select(F.col("g").alias("pg"), "qq", F.col("pick").alias("er"))
    )
    exact = ranked.join(
        F.broadcast(pk2),
        (ranked["g"] == pk2["pg"]) & (ranked["er"] == pk2["er"]),
    ).select(F.col("pg").alias("g"), "qq", F.col("value").alias("exact_q"))

    return est.join(exact, ["g", "qq"]).select(
        F.col("g").alias("l_returnflag"),
        "qq",
        "est_q",
        "exact_q",
        F.round(F.abs(F.col("est_q") - F.col("exact_q")), 4).alias("abs_err"),
    )


@query(
    "q192_kll_quantiles",
    oracle="""
    WITH src AS (SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS value
                 FROM lineitem),
    ev AS (SELECT g, value,
                  row_number() OVER (PARTITION BY g ORDER BY value) AS er
           FROM src),
    n AS (SELECT g, count(*) AS n FROM src GROUP BY g),
    qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS qq),
    pk AS (SELECT g, qq, CAST(ceil(qq * n) AS BIGINT) AS pick FROM n, qs),
    ex AS (SELECT pk.g, pk.qq, ev.value AS exact_q
           FROM pk JOIN ev ON ev.g = pk.g AND ev.er = pk.pick)
    SELECT g AS l_returnflag, qq, exact_q, TRUE AS within_bound FROM ex
    """,
)
def q192_kll_quantiles(spark, sf_dir):
    """Genuine KLL quantile sketch (Karnin-Lang-Liberty 2016) per
    return flag, graded by its rank-error CONTRACT: the sketch's
    estimate for each q must sit within eps=0.05 RANK error of q
    (|rank(est) - q*n| <= eps*n), far looser than KLL's actual
    ~1/k error at k=256 — the oracle computes the same exact order
    statistics and asserts every bound holds. The estimate itself
    cannot be hash-graded because KLL compaction is arrival-order-
    dependent (see q191's deterministic sibling for the bit-for-bit
    member of the family); compaction offsets here are md5-seeded
    (no RNG), so a rerun over the same partition layout IS
    reproducible.

    Scale shape: per-partition KLL partials fold inside the scan
    (O(k log n) state per group), only sketch rows shuffle into one
    per-group merge; the corpus moves never. The contract check is
    one broadcast join of the ~|groups x qs|-row estimate table
    against the corpus plus one combiner-reduced agg.
    """
    from maston_spark.sketches import kll_quantiles, kll_sketch

    qs = [0.25, 0.5, 0.75, 0.95]
    eps = 0.05
    li = load_table(spark, sf_dir, "lineitem")
    sk = kll_sketch(li, "l_returnflag", "l_extendedprice", k=256)
    est = kll_quantiles(sk, "l_returnflag", qs).withColumnRenamed(
        "l_returnflag", "g"
    )

    src = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").cast("double").alias("value"),
    )
    ranks = (
        src.join(F.broadcast(est), "g")
        .groupBy("g", "qq")
        .agg(
            F.max("est_q").alias("est_q"),
            F.sum(F.when(F.col("value") < F.col("est_q"), 1).otherwise(0))
            .alias("lo"),
            F.sum(F.when(F.col("value") <= F.col("est_q"), 1).otherwise(0))
            .alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    from pyspark.sql import Window

    # round-16: two-phase global rank instead of the one-task-per-
    # return-flag window (the q191 fix — ties in value leave the rank
    # linearization arbitrary in both forms, but the VALUE at a rank
    # is order-unique, so exact_q is unchanged)
    from maston_spark.relational import global_rank

    ranked = global_rank(src, [F.col("g"), F.col("value")], "er")
    n = src.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    wg = Window.orderBy("g").rowsBetween(Window.unboundedPreceding, -1)
    # |groups|-row frame (3 return flags) — bounded window by contract
    noff = n.select(
        "g", "n", F.coalesce(F.sum("n").over(wg), F.lit(0)).alias("__off")
    )
    qdf = spark.createDataFrame([(float(q),) for q in qs], "qq double")
    pk = (
        noff.crossJoin(F.broadcast(qdf))
        .withColumn(
            "pick",
            (F.col("__off") + F.ceil(F.col("qq") * F.col("n"))).cast("long"),
        )
        .select(F.col("g").alias("pg"), "qq", F.col("pick").alias("er"))
    )
    exact = ranked.join(
        F.broadcast(pk),
        (ranked["g"] == pk["pg"]) & (ranked["er"] == pk["er"]),
    ).select(F.col("pg").alias("g"), "qq", F.col("value").alias("exact_q"))

    return (
        ranks.join(exact, ["g", "qq"])
        .select(
            F.col("g").alias("l_returnflag"),
            "qq",
            "exact_q",
            (
                (F.col("lo") <= F.col("qq") * F.col("n") + F.lit(eps) * F.col("n"))
                & (F.col("hi") >= F.col("qq") * F.col("n") - F.lit(eps) * F.col("n"))
            ).alias("within_bound"),
        )
    )


@query(
    "q198_quantile_sketch_solo",
    oracle="""
    WITH src AS (SELECT l_returnflag AS g,
                        ('0x' || substr(md5(l_orderkey::VARCHAR || '#' ||
                                            l_linenumber::VARCHAR), 1, 15))::BIGINT AS h,
                        l_extendedprice::DOUBLE AS value
                 FROM lineitem),
    r AS (SELECT g, h, value,
                 row_number() OVER (PARTITION BY g ORDER BY h, value) AS rn
          FROM src),
    s AS (SELECT g, h, value FROM r WHERE rn <= 128),
    sv AS (SELECT g, value,
                  row_number() OVER (PARTITION BY g ORDER BY value, h) AS vr
           FROM s),
    m AS (SELECT g, count(*) AS m FROM s GROUP BY g),
    qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS qq),
    pk AS (SELECT g, qq, CAST(ceil(qq * m) AS INT) AS pick FROM m, qs)
    SELECT pk.g AS l_returnflag, pk.qq, sv.value AS est_q
    FROM pk JOIN sv ON sv.g = pk.g AND sv.vr = pk.pick
    ORDER BY l_returnflag, qq
    """,
)
def q198_quantile_sketch_solo(spark, sf_dir):
    """The quantile-sample sketch ALONE — q191 without its exact
    order-statistics garnish (the one full per-group sort that
    exists so abs_err can be graded). This is the query you'd run at
    100 TB, and the bench row that shows the operator's true data
    ratio: one corpus pass, per-partition bottom-k fold inside the
    scan, only the <= k survivors per group shuffle — still
    bit-for-bit oracle-graded, because the sketch is a pure function
    of the row multiset."""
    from maston_spark.sketches import (
        quantile_sample_estimate,
        quantile_sample_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("#", "l_orderkey", "l_linenumber")
    sk = quantile_sample_sketch(li, "l_returnflag", key, "l_extendedprice", 128)
    return quantile_sample_estimate(
        sk, "l_returnflag", [0.25, 0.5, 0.75, 0.95]
    ).orderBy("l_returnflag", "qq")


@query(
    "q199_kll_sketch_solo",
    oracle="""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS weight_conserved
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q199_kll_sketch_solo(spark, sf_dir):
    """The KLL sketch ALONE — q192 without the exact-rank contract
    garnish (the full per-group sort). The oracle-gradeable invariant
    that survives without exact ranks is WEIGHT CONSERVATION: the
    compactor's promote-pairs-keep-leftover discipline makes
    sum(2^level) over the sketch equal the exact row count, so the
    Spark side reports it really and the oracle asserts it equals
    count(*) — a cross-engine check that the sketch saw every row
    exactly once (the estimate itself is arrival-order-dependent and
    is graded by q192's rank contract). Bench-wise this row carries
    the operator's true cost: per-partition KLL folds inside the
    scan, sketch-sized merge per group, plus one combiner-reduced
    count."""
    from maston_spark.sketches import kll_sketch

    li = load_table(spark, sf_dir, "lineitem")
    sk = kll_sketch(li, "l_returnflag", "l_extendedprice", k=256)
    wt = sk.groupBy("l_returnflag").agg(
        F.sum(F.pow(F.lit(2.0), F.col("level").cast("double")))
        .cast("long")
        .alias("__w")
    )
    n = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    return (
        n.join(wt, "l_returnflag")
        .select(
            "l_returnflag",
            "n_rows",
            (F.col("__w") == F.col("n_rows")).alias("weight_conserved"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q202_hll_distinct",
    oracle="""
    WITH src AS (SELECT l_returnflag AS g, md5(l_orderkey::VARCHAR) AS h
                 FROM lineitem WHERE l_orderkey IS NOT NULL),
    b AS (SELECT g,
                 ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
                 ('0x' || substr(h, 3, 13))::BIGINT AS w
          FROM src),
    r AS (SELECT g, bucket,
                 CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
          FROM b),
    regs AS (SELECT g, bucket, max(rho) AS mj FROM r GROUP BY g, bucket),
    ag AS (SELECT g,
                  CAST(sum(CAST(power(2.0, 53 - mj) AS BIGINT)) AS BIGINT) AS sp,
                  count(*) AS npres
           FROM regs GROUP BY g)
    SELECT g AS l_returnflag,
           CASE WHEN (47072.71267120224::DOUBLE * 9007199254740992.0::DOUBLE /
                      CAST(sp + (256 - npres) * 9007199254740992 AS DOUBLE))
                     <= 640.0 AND npres < 256
                THEN round(256.0 * ln(256.0 / CAST(256 - npres AS DOUBLE)), 4)
                ELSE round(47072.71267120224::DOUBLE * 9007199254740992.0::DOUBLE /
                           CAST(sp + (256 - npres) * 9007199254740992
                                AS DOUBLE), 4)
           END AS n_distinct_est,
           CAST(256 - npres AS BIGINT) AS v_zero_registers
    FROM ag ORDER BY l_returnflag
    """,
)
def q202_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct orderkeys per return flag — the THIRD
    distinct-count physics after exact count-distinct and KMV: fixed
    2^p registers per group (p=8, ~6.5% standard error) folded by a
    combiner-reduced per-bucket MAX, no corpus shuffle, merge = MAX
    (idempotent). Graded BIT-FOR-BIT: bucket/rank come from md5 hex
    digits via integer/string ops, the harmonic-mean denominator is
    the exact integer sum(2^(53-mj)), and the single IEEE operation
    is the closing alpha*m^2*2^53/S quotient the oracle replays from
    the same embedded literals. See
    :func:`maston_spark.sketches.hll_registers` /
    :func:`maston_spark.sketches.hll_estimate`. Flajolet, Fusy,
    Gandouet, Meunier 2007."""
    from maston_spark.sketches import hll_estimate, hll_registers

    li = load_table(spark, sf_dir, "lineitem")
    regs = hll_registers(li, "l_returnflag", "l_orderkey", p=8)
    return hll_estimate(regs, "l_returnflag", p=8).orderBy("l_returnflag")


# -------------------------- streaming topologies' batch twins


@query(
    "q200_quantile_metrics_prefix",
    oracle="""
    WITH src AS (SELECT l_returnflag AS g,
                        ('0x' || substr(md5(l_orderkey::VARCHAR || '#' ||
                                            l_linenumber::VARCHAR), 1, 15))::BIGINT AS h,
                        l_extendedprice::DOUBLE AS value
                 FROM lineitem),
    r AS (SELECT g, h, value,
                 row_number() OVER (PARTITION BY g ORDER BY h, value) AS rn
          FROM src),
    s AS (SELECT g, h, value FROM r WHERE rn <= 128),
    sv AS (SELECT g, value,
                  row_number() OVER (PARTITION BY g ORDER BY value, h) AS vr
           FROM s),
    m AS (SELECT g, count(*) AS m FROM s GROUP BY g),
    qs AS (SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS qq),
    pk AS (SELECT g, qq, CAST(ceil(qq * m) AS INT) AS pick FROM m, qs)
    SELECT pk.g AS l_returnflag, pk.qq, sv.value AS est_q
    FROM pk JOIN sv ON sv.g = pk.g AND sv.vr = pk.pick
    ORDER BY l_returnflag, qq
    """,
)
def q200_quantile_metrics_prefix(spark, sf_dir):
    """The quantile-metrics TOPOLOGY's emitted-estimate-equals-
    one-shot claim, graded cross-engine: lineitem is split into 3
    deterministic "micro-batches" (l_orderkey mod 3), each batch is
    sketched and folded into the running state with the SAME
    :func:`maston_spark.sketches.quantile_sample_merge` the streaming
    topology calls per batch, and the final emitted estimates are
    compared against the oracle's ONE-SHOT sketch of the whole
    history. The bottom-k union is a set identity, so the incremental
    path is bit-identical to the one-pass path — previously pinned
    only by a pytest golden, now by the DuckDB oracle (see
    :func:`maston_spark.streaming.topology.quantile_metrics_topology`).
    """
    from maston_spark.sketches import (
        quantile_sample_estimate,
        quantile_sample_merge,
        quantile_sample_sketch,
    )

    li = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws("#", "l_orderkey", "l_linenumber")
    state = None
    for b in range(3):
        batch = li.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == b)
        sk = quantile_sample_sketch(
            batch, "l_returnflag", key, "l_extendedprice", 128
        )
        state = sk if state is None else quantile_sample_merge(state, sk, 128)
    return quantile_sample_estimate(
        state, "l_returnflag", [0.25, 0.5, 0.75, 0.95]
    ).orderBy("l_returnflag", "qq")


@query(
    "q201_drift_monitor_prefix",
    oracle="""
    WITH refv AS (SELECT value FROM events
                  WHERE event_type = 'view' AND value IS NOT NULL),
    e AS (SELECT quantile_cont(value,
            [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
          FROM refv),
    sb AS (SELECT CAST(len(list_filter(qs, q -> value > q)) AS INT) AS bin
           FROM events, e
           WHERE event_type <> 'view' AND value IS NOT NULL),
    sc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM sb GROUP BY bin),
    rb AS (SELECT CAST(len(list_filter(qs, q -> value > q)) AS INT) AS bin
           FROM refv, e),
    rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS m FROM rb GROUP BY bin),
    bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
    f AS (SELECT bins.bin, coalesce(sc.n, 0) AS n, coalesce(rc.m, 0) AS m
          FROM bins LEFT JOIN sc ON sc.bin = bins.bin
                    LEFT JOIN rc ON rc.bin = bins.bin),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
                   CAST(sum(m) AS BIGINT) AS mt FROM f)
    SELECT nt AS n_stream, mt AS n_ref,
           (SELECT CAST(sum(abs(n::HUGEINT * mt - m::HUGEINT * nt)) AS DOUBLE)
            FROM f, tot) / (2.0 * nt * mt) AS tvd,
           (SELECT CAST(sum(abs(n::HUGEINT * mt - m::HUGEINT * nt)) AS DOUBLE)
            FROM f, tot) / (2.0 * nt * mt) > 0.05 AS drifted
    FROM tot
    """,
)
def q201_drift_monitor_prefix(spark, sf_dir):
    """The drift-monitor TOPOLOGY's running-TVD-at-a-batch-boundary
    claim, graded cross-engine: non-'view' events are split into 3
    deterministic micro-batches (event_id mod 3), each batch's bin
    counts fold into the running state with the SAME
    :func:`maston_spark.sketches.sum_counts` the topology calls,
    against bin edges from the SAME
    :func:`maston_spark.profiling.ref_bin_edges` (reference = 'view'
    events), and the final emitted TVD uses the SAME
    :func:`maston_spark.profiling.tvd_from_counts` arithmetic — while
    the oracle computes the one-shot binned TVD of ALL stream rows vs
    the reference. Additive counters make fold-of-batches ≡ one-shot
    exactly; this promotes that claim from a pytest golden to a
    DuckDB-graded identity (see
    :func:`maston_spark.streaming.topology.drift_monitor_topology`).
    The driver-side arithmetic is bounded at n_bins integers — the
    same boundedness the topology itself relies on."""
    from maston_spark.profiling import (
        bucket_of_edges,
        ref_bin_edges,
        tvd_from_counts,
    )
    from maston_spark.sketches import sum_counts

    n_bins, threshold = 10, 0.05
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    ref = ev.filter(F.col("event_type") == "view")
    stream = ev.filter(F.col("event_type") != "view")
    edges = ref_bin_edges(ref, "value", n_bins)

    counters = None
    for b in range(3):
        g = (
            stream.filter(F.pmod(F.col("event_id"), F.lit(3)) == b)
            .select(bucket_of_edges(F.col("value"), edges).alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
        )
        counters = sum_counts(g, counters, ["bin"], ["n"])

    stream_counts = {r["bin"]: r["n"] for r in counters.collect()}
    ref_counts = {
        r["bin"]: r["n"]
        for r in ref.select(
            bucket_of_edges(F.col("value"), edges).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    }
    n_i = [int(stream_counts.get(b, 0)) for b in range(n_bins)]
    m_i = [int(ref_counts.get(b, 0)) for b in range(n_bins)]
    tvd = tvd_from_counts(n_i, m_i)
    return spark.createDataFrame(
        [(sum(n_i), sum(m_i), float(tvd), bool(tvd > threshold))],
        "n_stream long, n_ref long, tvd double, drifted boolean",
    )


# ------------------------------------------------ binned TVD drift


@query(
    "q194_binned_tvd_drift",
    oracle="""
    WITH e AS (SELECT quantile_cont(value,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
               FROM events WHERE value IS NOT NULL),
    b AS (SELECT event_type AS g,
                 CAST(len(list_filter(qs, q -> value > q)) AS INT) AS bin
          FROM events, e WHERE value IS NOT NULL),
    c AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1, 2),
    gs AS (SELECT DISTINCT g FROM c),
    bins AS (SELECT CAST(unnest(range(0, 10)) AS INT) AS bin),
    grid AS (SELECT g, bin FROM gs, bins),
    f AS (SELECT grid.g, grid.bin, CAST(coalesce(c.n, 0) AS BIGINT) AS n
          FROM grid LEFT JOIN c ON c.g = grid.g AND c.bin = grid.bin),
    gl AS (SELECT bin, sum(n) AS t FROM f GROUP BY bin),
    sz AS (SELECT g, sum(n) AS ng FROM f GROUP BY g),
    tot AS (SELECT sum(n) AS nt FROM f),
    j AS (SELECT f.g, f.n, gl.t - f.n AS m, sz.ng, tot.nt - sz.ng AS mg
          FROM f JOIN gl ON gl.bin = f.bin JOIN sz ON sz.g = f.g, tot)
    SELECT g AS event_type, CAST(ng AS BIGINT) AS n_group,
           CAST(mg AS BIGINT) AS n_rest,
           CASE WHEN mg > 0 THEN
             CAST(sum(abs(n::HUGEINT * mg - m::HUGEINT * ng)) AS DOUBLE)
               / (2.0 * ng * mg)
           END AS tvd
    FROM j GROUP BY g, ng, mg ORDER BY event_type
    """,
)
def q194_binned_tvd_drift(spark, sf_dir):
    """Binned total-variation drift of each event type's value
    distribution vs the rest of the stream, over global-decile bins
    — the PSI monitoring shape with the exactly-computable L1
    distance (cross-multiplied int64, one IEEE quotient; PSI's ln
    would break bit-parity between engines). Complements q178's KS
    (sup-norm on the full CDF grid) with the bounded-state per-bin
    form production monitors alert on. See
    :func:`maston_spark.profiling.binned_tvd_drift`."""
    from maston_spark.profiling import binned_tvd_drift

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return binned_tvd_drift(ev, "event_type", "value", n_bins=10)


# ---------------------------------------------- table sketch profile


def _col_profile_sql(col: str, hashed: str | None = None) -> str:
    # `hashed` = the canonicalized hash-input expression; defaults to
    # the column itself. Float columns pass the micro-unit fixed
    # point (round(x*1e6) as BIGINT) — the operator's own
    # canonicalization, replayed here verbatim.
    hx = f"({hashed if hashed is not None else col})::VARCHAR"
    return f"""
    SELECT '{col}' AS col_name,
      (SELECT CAST(count({col}) AS BIGINT) FROM orders) AS n_rows,
      (WITH h AS (SELECT DISTINCT
            ('0x' || substr(md5({hx}), 1, 15))::BIGINT AS h
          FROM orders WHERE {col} IS NOT NULL),
        r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h),
        s AS (SELECT count(*) AS n_seen,
                     max(CASE WHEN rn = 64 THEN h END) AS kth
              FROM r WHERE rn <= 64)
        SELECT CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
               ELSE round(63.0 / (kth / 1152921504606846976.0), 4) END
        FROM s) AS n_distinct_est,
      (WITH l AS (SELECT l,
            CAST(sum(CASE WHEN substring(md5({hx}), 17 + l, 1) >= '8'
                     THEN 1 ELSE -1 END) AS BIGINT) AS t
          FROM orders, (SELECT unnest(range(0, 16)) AS l) r
          WHERE {col} IS NOT NULL GROUP BY l)
        SELECT CAST(sum(t * t) AS DOUBLE) / 16.0 FROM l) AS f2_est"""


@query(
    "q196_table_sketch_profile",
    oracle=" UNION ALL ".join(
        _col_profile_sql(c, hx)
        for c, hx in (
            ("o_orderkey", None),
            ("o_custkey", None),
            ("o_orderstatus", None),
            ("o_totalprice", "CAST(round(o_totalprice * 1e6) AS BIGINT)"),
            ("o_orderpriority", None),
        )
    )
    + " ORDER BY col_name",
)
def q196_table_sketch_profile(spark, sf_dir):
    """Single-scan sketch profile of five orders columns — per
    column the non-null count, KMV distinct estimate, and AMS F2
    skew estimate — the "which columns are keys, which are skewed,
    can I broadcast this" table pre-flight, at a cost of ONE corpus
    scan no matter how many columns (q181's fusion taken from
    per-key to per-table). o_totalprice exercises the operator's own
    FLOAT canonicalization (micro-unit fixed point — the one
    rendering Spark and DuckDB compute bit-identically; see
    :func:`maston_spark.sketches.table_sketch_profile`)."""
    from maston_spark.sketches import table_sketch_profile

    o = load_table(spark, sf_dir, "orders")
    return table_sketch_profile(
        o,
        [
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderpriority",
        ],
    ).withColumnRenamed("column", "col_name").orderBy("col_name")


# ------------------------------------------- weighted percentiles


@query(
    "q197_weighted_percentiles",
    oracle="""
    WITH d AS (SELECT source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
               FROM documents WHERE text IS NOT NULL),
    g AS (SELECT source, n_tok, sum(n_tok) AS w
          FROM d WHERE n_tok > 0 GROUP BY source, n_tok),
    c AS (SELECT source, n_tok,
                 sum(w) OVER (PARTITION BY source ORDER BY n_tok) AS cum,
                 sum(w) OVER (PARTITION BY source) AS W
          FROM g)
    SELECT source,
           min(CASE WHEN cum >= 0.5 * W THEN n_tok END) AS tok_p50,
           min(CASE WHEN cum >= 0.9 * W THEN n_tok END) AS tok_p90
    FROM c GROUP BY source ORDER BY source
    """,
)
def q197_weighted_percentiles(spark, sf_dir):
    """Token-weighted length percentiles per source: the document
    length below which half (p50) / 90% (p90) of the source's TOKENS
    live — the weighted order statistic a token-budget planner
    needs, where the document-count median misleads whenever long
    docs carry most of the mass. See
    :func:`maston_spark.relational.weighted_percentiles`."""
    from maston_spark.relational import weighted_percentiles

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        )
    )
    return weighted_percentiles(
        d, "source", "n_tok", "n_tok", [0.5, 0.9], ["tok_p50", "tok_p90"]
    ).orderBy("source")


def _zorder_terms(xe: str, ye: str, bits: int = 16) -> str:
    return " + ".join(
        f"(({xe} >> {i}) & 1) * {1 << (2 * i)} + "
        f"(({ye} >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(bits)
    )


@query(
    "q205_zorder_layout",
    oracle=f"""
    WITH b AS (SELECT min(o_custkey) AS xlo, max(o_custkey) AS xhi,
                      min(o_orderkey) AS ylo, max(o_orderkey) AS yhi
               FROM orders),
    s AS (SELECT CAST((CAST(o_custkey AS HUGEINT) - xlo) * 65536
                      // (CAST(xhi AS HUGEINT) - xlo + 1)
                      AS BIGINT) AS xl,
                 CAST((CAST(o_orderkey AS HUGEINT) - ylo) * 65536
                      // (CAST(yhi AS HUGEINT) - ylo + 1)
                      AS BIGINT) AS yl
          FROM orders, b),
    z AS (SELECT xl, yl, ({_zorder_terms('xl', 'yl')})::BIGINT AS zv FROM s),
    lay AS (
      SELECT 'zorder' AS layout, CAST(zv >> 27 AS INT) AS file_id, xl, yl
      FROM z
      UNION ALL
      SELECT 'single' AS layout, CAST(yl >> 11 AS INT) AS file_id, xl, yl
      FROM z)
    SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(xl) - min(xl) AS BIGINT) AS x_span,
           CAST(max(yl) - min(yl) AS BIGINT) AS y_span
    FROM lay GROUP BY layout, file_id ORDER BY layout, file_id
    """,
)
def q205_zorder_layout(spark, sf_dir):
    """Z-order vs single-column layout, measured as the min/max
    file-pruning stats a lakehouse manifest keeps: 32 simulated files
    per layout over orders (x = custkey, y = orderkey). The z-order
    files bound BOTH dimensions' spans (both predicates prunable);
    the sort-by-orderkey files bound only y — the data-layout
    decision that determines scan cost at 100 TB, graded exactly
    (pure integer bit interleave, both engines replay bit-for-bit).
    See :func:`maston_spark.relational.zorder_key` /
    :func:`maston_spark.relational.zorder_layout_report`."""
    from maston_spark.relational import zorder_layout_report

    o = load_table(spark, sf_dir, "orders")
    return zorder_layout_report(o, "o_custkey", "o_orderkey", bits=16, file_bits=5)


@query(
    "q206_scd2_history",
    oracle="""
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
               FROM events),
    r AS (SELECT user_id, event_type, us, event_id,
                 lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY us, event_id) AS pv,
                 row_number() OVER
                   (PARTITION BY user_id ORDER BY us, event_id) AS rn
          FROM e),
    c AS (SELECT user_id, event_type, us, event_id FROM r
          WHERE rn = 1 OR pv IS DISTINCT FROM event_type),
    h AS (SELECT user_id, event_type AS state, us AS valid_from_us,
                 lead(us) OVER
                   (PARTITION BY user_id ORDER BY us, event_id)
                   AS valid_to_us
          FROM c)
    SELECT user_id, state, valid_from_us, valid_to_us,
           valid_to_us IS NULL AS is_current
    FROM h ORDER BY user_id, valid_from_us
    """,
)
def q206_scd2_history(spark, sf_dir):
    """SCD Type-2 dimension history built from the events change log:
    one validity interval per per-user event-type RUN, half-open
    microsecond intervals, NULL-terminated current row — the
    temporal-table CONSTRUCTION half of the CDC family (q143 replays
    a log into the latest snapshot; this builds the full
    point-in-time history an as-of join then queries). One hash
    shuffle on the key serves all window passes. See
    :func:`maston_spark.relational.scd2_history`."""
    from maston_spark.relational import scd2_history

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return scd2_history(ev, "user_id", "ts", "event_type", "event_id").orderBy(
        "user_id", "valid_from_us"
    )


@query(
    "q207_salted_join",
    oracle="""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
)
def q207_salted_join(spark, sf_dir):
    """Revenue by part brand through a SALTED fact-dim join — graded
    against the PLAIN unsalted join, certifying cross-engine that
    salting is a pure partitioning trick with identical semantics
    (the property that makes it safe to deploy against a hot key at
    100 TB). Fact side salted per row, dim side posexplode-replicated
    n_salts ways, join on (key, salt). See
    :func:`maston_spark.relational.salted_join` — the "act" half of
    q129's skew diagnostic."""
    from maston_spark.relational import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = salted_join(li, p, "p_partkey", n_salts=8)
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("p_brand")
    )


@query(
    "q208_ts_pattern_search",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, value
               FROM events WHERE value IS NOT NULL),
    w AS (SELECT user_id, us, value AS w0,
            lead(value, 1) OVER win AS w1,
            lead(value, 2) OVER win AS w2,
            lead(value, 3) OVER win AS w3,
            lead(value, 4) OVER win AS w4,
            lead(value, 5) OVER win AS w5,
            lead(value, 6) OVER win AS w6,
            lead(value, 7) OVER win AS w7
          FROM e
          WINDOW win AS (PARTITION BY user_id ORDER BY us, event_id)),
    f AS (SELECT * FROM w WHERE w7 IS NOT NULL),
    s AS (SELECT user_id, us AS start_us,
            (w0+w1+w2+w3+w4+w5+w6+w7) AS sx,
            (w0*w0+w1*w1+w2*w2+w3*w3+w4*w4+w5*w5+w6*w6+w7*w7) AS sxx,
            (w0*1.0+w1*2.0+w2*4.0+w3*8.0+w4*6.0+w5*3.0+w6*2.0+w7*1.0)
              AS sxy
          FROM f),
    c AS (SELECT user_id, start_us,
            CASE WHEN (8.0*sxx - sx*sx) * 351.0 > 0
                 THEN round((8.0*sxy - sx*27.0)
                            / sqrt((8.0*sxx - sx*sx) * 351.0), 6)
            END AS corr
          FROM s)
    SELECT user_id, start_us, corr FROM c WHERE corr IS NOT NULL
    ORDER BY corr DESC, user_id, start_us LIMIT 20
    """,
)
def q208_ts_pattern_search(spark, sf_dir):
    """Time-series pattern-similarity search: the top-20 8-step
    windows across every user's value series by Pearson correlation
    with a fixed spike shape [1,2,4,8,6,3,2,1] — "find every place
    the metric did THIS" (the matrix-profile-lite core of the
    EDBT'19 streaming time-series similarity family). Every sum is
    an explicit left-associated 8-term expression replayed verbatim
    by the oracle, so the float arithmetic is the identical IEEE
    sequence in both engines. One hash shuffle on the key; windows
    are lead-column projections; the global top-k is a TakeOrdered.
    See :func:`maston_spark.relational.pattern_corr_topk`."""
    from maston_spark.relational import pattern_corr_topk

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    return pattern_corr_topk(
        ev,
        "user_id",
        "ts",
        "value",
        "event_id",
        [1.0, 2.0, 4.0, 8.0, 6.0, 3.0, 2.0, 1.0],
        k=20,
    )


_HLL_EST = (
    "CASE WHEN (47072.71267120224::DOUBLE * 9007199254740992.0::DOUBLE /"
    " CAST(sp + (256 - np) * 9007199254740992 AS DOUBLE)) <= 640.0"
    " AND np < 256"
    " THEN round(256.0 * ln(256.0 / CAST(256 - np AS DOUBLE)), 4)"
    " ELSE round(47072.71267120224::DOUBLE * 9007199254740992.0::DOUBLE /"
    " CAST(sp + (256 - np) * 9007199254740992 AS DOUBLE), 4) END"
)


@query(
    "q210_hll_set_ops",
    oracle=f"""
    WITH src AS (SELECT l_returnflag AS g, md5(l_orderkey::VARCHAR) AS h
                 FROM lineitem WHERE l_orderkey IS NOT NULL),
    b AS (SELECT g, ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
                 ('0x' || substr(h, 3, 13))::BIGINT AS w
          FROM src),
    r AS (SELECT g, bucket,
                 CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
          FROM b),
    regs AS (SELECT g, bucket, max(rho) AS mj FROM r GROUP BY 1, 2),
    gs AS (SELECT DISTINCT g FROM regs),
    pairs AS (SELECT a.g AS ga, b.g AS gb FROM gs a, gs b WHERE a.g < b.g),
    pregs AS (SELECT ga, gb, bucket, max(mj) AS mj FROM (
        SELECT p.ga, p.gb, r.bucket, r.mj
        FROM pairs p JOIN regs r ON r.g = p.ga
        UNION ALL
        SELECT p.ga, p.gb, r.bucket, r.mj
        FROM pairs p JOIN regs r ON r.g = p.gb) u
      GROUP BY 1, 2, 3),
    se0 AS (SELECT g, CAST(sum(CAST(power(2.0, 53 - mj) AS BIGINT))
                           AS BIGINT) AS sp,
                   count(*) AS np
            FROM regs GROUP BY g),
    se AS (SELECT g, {_HLL_EST} AS est FROM se0),
    pe0 AS (SELECT ga, gb, CAST(sum(CAST(power(2.0, 53 - mj) AS BIGINT))
                                AS BIGINT) AS sp,
                   count(*) AS np
            FROM pregs GROUP BY 1, 2),
    pe AS (SELECT ga, gb, {_HLL_EST} AS est_union FROM pe0)
    SELECT pe.ga AS set_a, pe.gb AS set_b,
           sa.est AS est_a, sb.est AS est_b, pe.est_union,
           round(sa.est + sb.est - pe.est_union, 4) AS est_intersection
    FROM pe JOIN se sa ON sa.g = pe.ga JOIN se sb ON sb.g = pe.gb
    ORDER BY set_a, set_b
    """,
)
def q210_hll_set_ops(spark, sf_dir):
    """HLL set operations between the per-return-flag orderkey sets:
    union cardinality from MAX-MERGED registers (the HLL merge
    identity: registers of a union ARE the per-bucket max of the
    parts — exact, not approximate) and intersection via
    inclusion-exclusion — the HyperLogLog counterpart of q168's KMV
    set-ops quartet (HLL: fixed 2^p registers, best per byte at
    extreme cardinalities, intersections only via ±; KMV: k hashes,
    native Jaccard/intersection). Same integer-exact estimator
    arithmetic as q202, graded bit-for-bit. See
    :func:`maston_spark.sketches.hll_registers` /
    :func:`maston_spark.sketches.hll_estimate`."""
    from maston_spark.sketches import hll_estimate, hll_registers

    li = load_table(spark, sf_dir, "lineitem")
    regs = hll_registers(li, "l_returnflag", "l_orderkey", p=8)
    gs = regs.select(F.col("l_returnflag").alias("g")).distinct()
    pairs = (
        gs.alias("x")
        .crossJoin(gs.alias("y"))
        .filter(F.col("x.g") < F.col("y.g"))
        .select(F.col("x.g").alias("ga"), F.col("y.g").alias("gb"))
    )
    ra = regs.select(F.col("l_returnflag").alias("ga"), "bucket", "mj")
    rb = regs.select(F.col("l_returnflag").alias("gb"), "bucket", "mj")
    pregs = (
        pairs.join(ra, "ga")
        .select("ga", "gb", "bucket", "mj")
        .unionByName(pairs.join(rb, "gb").select("ga", "gb", "bucket", "mj"))
        .groupBy("ga", "gb", "bucket")
        .agg(F.max("mj").alias("mj"))
    )
    pest = hll_estimate(
        pregs.select(F.concat_ws("|", "ga", "gb").alias("pk"), "bucket", "mj"),
        "pk",
    ).select(
        F.split(F.col("pk"), r"\|")[0].alias("set_a"),
        F.split(F.col("pk"), r"\|")[1].alias("set_b"),
        F.col("n_distinct_est").alias("est_union"),
    )
    sest = hll_estimate(regs, "l_returnflag")
    sa = sest.select(
        F.col("l_returnflag").alias("set_a"), F.col("n_distinct_est").alias("est_a")
    )
    sb = sest.select(
        F.col("l_returnflag").alias("set_b"), F.col("n_distinct_est").alias("est_b")
    )
    return (
        pest.join(sa, "set_a")
        .join(sb, "set_b")
        .select(
            "set_a",
            "set_b",
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 4
            ).alias("est_intersection"),
        )
        .orderBy("set_a", "set_b")
    )


@query(
    "q211_cms_watchlist_prefix",
    oracle="""
    WITH seeds AS (SELECT unnest(generate_series(0, 3)) AS seed),
    cells AS (
      SELECT seed,
             ('0x' || substr(md5(seed::VARCHAR || ':' || user_id::VARCHAR),
                             1, 15))::BIGINT % 64 AS bucket
      FROM events, seeds WHERE user_id IS NOT NULL),
    sk AS (SELECT seed, bucket, CAST(count(*) AS BIGINT) AS cnt
           FROM cells GROUP BY 1, 2),
    watch AS (SELECT unnest(['1','2','3','4','5','6','7','8','9','10',
                             '999999']) AS item),
    probe AS (
      SELECT item, seed,
             ('0x' || substr(md5(seed::VARCHAR || ':' || item),
                             1, 15))::BIGINT % 64 AS bucket
      FROM watch, seeds)
    SELECT p.item, min(coalesce(sk.cnt, 0)) AS est_count
    FROM probe p LEFT JOIN sk ON sk.seed = p.seed AND sk.bucket = p.bucket
    GROUP BY 1 ORDER BY item
    """,
)
def q211_cms_watchlist_prefix(spark, sf_dir):
    """The CMS-watchlist TOPOLOGY's fold identity, graded
    cross-engine: events split into 3 deterministic micro-batches
    (event_id mod 3), each batch's count-min grid folded with the
    SAME :func:`maston_spark.sketches.sum_counts` the streaming
    topology calls (cell-wise sum — the ADDITIVE merge), then the
    watchlist probed through the shared :func:`maston_spark.
    sketches.cms_probe` — while the oracle sketches the whole
    history in one shot. Sum-of-grids ≡ grid-of-union exactly;
    this completes the topology-twin matrix (curation q195, quantile
    q200, drift q201, CMS q211 — every streaming state fold now has
    an oracle-graded batch twin). The absent watch item ('999999')
    pins the zero-cell path."""
    from maston_spark.sketches import cms_probe, cms_sketch, sum_counts

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(F.col("user_id").alias("item"), "event_id")
    )
    grid = None
    for b in range(3):
        g = cms_sketch(
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b),
            "item",
            depth=4,
            width=64,
        )
        grid = sum_counts(g, grid, ["seed", "bucket"], ["cnt"])
    watch = spark.createDataFrame(
        [(str(i),) for i in range(1, 11)] + [("999999",)], "item string"
    )
    return cms_probe(grid, watch, "item", depth=4, width=64).orderBy("item")


# ------------------------------------------- model-evaluation family


@query(
    "q212_group_auc",
    oracle="""
    WITH e AS (SELECT user_id % 4 AS cohort, value AS s,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
               FROM events WHERE value IS NOT NULL),
    r AS (SELECT cohort, y,
                 2 * rank() OVER (PARTITION BY cohort ORDER BY s)
                   + count(*) OVER (PARTITION BY cohort, s) - 1 AS mid2
          FROM e),
    a AS (SELECT cohort, CAST(sum(y) AS BIGINT) AS n_pos,
                 CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
                 CAST(sum(y * mid2) AS BIGINT) AS pm2
          FROM r GROUP BY cohort)
    SELECT cohort, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             round(CAST(pm2 - n_pos * (n_pos + 1) AS DOUBLE)
                   / CAST(2 * n_pos * n_neg AS DOUBLE), 6)
           END AS auc
    FROM a ORDER BY cohort
    """,
)
def q212_group_auc(spark, sf_dir):
    """Exact ROC-AUC per user cohort: does the event value rank
    purchases above non-purchases — the ranking-quality number a
    score-gated curation pipeline checks before trusting its scorer,
    computed in the Mann-Whitney rank form with exact-integer
    midrank tie correction (one rank window + one agg; never the
    naive n_pos x n_neg pair comparison). See
    :func:`maston_spark.evaluation.group_auc`."""
    from maston_spark.evaluation import group_auc

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            (F.col("user_id") % 4).alias("cohort"),
            F.col("value").alias("s"),
            (F.col("event_type") == "purchase").cast("int").alias("y"),
        )
    )
    return group_auc(ev, "cohort", "s", "y").orderBy("cohort")


@query(
    "q213_calibration_bins",
    oracle="""
    WITH m AS (SELECT max(value) AS vmax FROM events
               WHERE value IS NOT NULL AND event_type IS NOT NULL),
    e AS (SELECT value / vmax AS s,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events, m
          WHERE value IS NOT NULL AND event_type IS NOT NULL),
    f AS (SELECT s, y FROM e WHERE s >= 0 AND s <= 1),
    b AS (SELECT least(CAST(floor(s * 10) AS INT), 9) AS bin, s, y FROM f)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
           round(round(sum(s), 6) / count(*), 6) AS mean_score,
           round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
    FROM b GROUP BY bin ORDER BY bin
    """,
)
def q213_calibration_bins(spark, sf_dir):
    """Reliability diagram of a max-normalized value score against
    the purchase label: equal-width decile bins, exact per-bin
    positive rate beside the mean score — the calibration check
    (mean_score vs pos_rate gap = per-bin calibration error) run
    before a threshold on the score gates anything. See
    :func:`maston_spark.evaluation.calibration_bins`."""
    from maston_spark.evaluation import calibration_bins

    # event_type IS NOT NULL on BOTH sides: Spark's boolean-cast label
    # is NULL for a NULL event_type (row dropped downstream) while the
    # oracle's CASE would map it to 0 and keep it
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    vmax = ev.agg(F.max("value").alias("__vmax"))
    scored = ev.crossJoin(F.broadcast(vmax)).select(
        (F.col("value") / F.col("__vmax")).alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return calibration_bins(scored, "s", "y", n_bins=10)


@query(
    "q214_token_gini",
    oracle="""
    WITH d AS (SELECT source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS x
               FROM documents WHERE text IS NOT NULL),
    r AS (SELECT source, x,
                 row_number() OVER (PARTITION BY source ORDER BY x) AS i
          FROM d),
    a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(x) AS BIGINT) AS total,
                 sum(i::HUGEINT * x) AS iw
          FROM r GROUP BY source)
    SELECT source, n_rows, total,
           CASE WHEN total > 0 THEN
             round(CAST(2::HUGEINT * iw - (n_rows + 1)::HUGEINT * total
                        AS DOUBLE)
                   / CAST(n_rows::HUGEINT * total AS DOUBLE), 6)
           END AS gini
    FROM a ORDER BY source
    """,
)
def q214_token_gini(spark, sf_dir):
    """Gini concentration of per-document token counts within each
    source — the "is this domain a few giant docs or many small
    ones" number a mixture planner reads next to the water-fill
    allocation (G=0 uniform, ->1 winner-take-all). Exact
    rank-weighted integer sums (decimal/HUGEINT cross products), one
    closing IEEE quotient. See
    :func:`maston_spark.evaluation.group_gini`."""
    from maston_spark.evaluation import group_gini

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("x"),
        )
    )
    return group_gini(d, "source", "x").orderBy("source")


@query(
    "q216_rater_kappa",
    oracle="""
    WITH d AS (SELECT
                 CAST(len(string_split(text, ' ')) >= 50 AS VARCHAR) AS a,
                 CAST(len(list_distinct(string_split(text, ' ')))
                      * 2 >= len(string_split(text, ' ')) AS VARCHAR) AS b
               FROM documents WHERE text IS NOT NULL),
    cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
              FROM d GROUP BY a, b),
    r AS (SELECT a, sum(n) AS ra FROM cells GROUP BY a),
    c AS (SELECT b, sum(n) AS cb FROM cells GROUP BY b),
    s AS (SELECT coalesce(sum(ra::HUGEINT * cb), 0) AS s
          FROM r JOIN c ON c.b = r.a),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS N,
                 CAST(sum(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS dg
          FROM cells)
    SELECT N AS n_rows,
           round(CAST(dg AS DOUBLE) / N, 6) AS po,
           round(CAST(s AS DOUBLE) / (CAST(N AS DOUBLE) * N), 6) AS pe,
           CASE WHEN N::HUGEINT * N - s > 0 THEN
             round(CAST(N::HUGEINT * dg - s AS DOUBLE)
                   / CAST(N::HUGEINT * N - s AS DOUBLE), 6)
           END AS kappa
    FROM t, s
    """,
)
def q216_rater_kappa(spark, sf_dir):
    """Cohen's kappa between two cheap quality raters over the
    corpus — rater A: doc has >= 50 tokens; rater B: at least half
    the tokens are distinct (low repetition). Raw agreement flatters
    any pair of mostly-keep raters; kappa subtracts the agreement
    their marginals produce by chance — the labeling-pipeline gate
    run before trusting heuristic labels. Exact contingency
    arithmetic, one closing IEEE division. See
    :func:`maston_spark.evaluation.cohens_kappa` (Cohen 1960)."""
    from maston_spark.evaluation import cohens_kappa

    toks = F.split(F.col("text"), " ")
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            (F.size(toks) >= 50).cast("string").alias("a"),
            (
                F.size(F.array_distinct(toks)) * 2 >= F.size(toks)
            ).cast("string").alias("b"),
        )
    )
    return cohens_kappa(d, "a", "b")


@query(
    "q217_join_size_estimate",
    oracle="""
    WITH ls AS (SELECT unnest(range(0, 16)) AS l),
    la AS (SELECT l, CAST(sum(CASE WHEN substring(
                 md5(o_orderkey::VARCHAR), 17 + l, 1) >= '8'
               THEN 1 ELSE -1 END) AS BIGINT) AS t
           FROM orders, ls WHERE o_orderkey IS NOT NULL GROUP BY l),
    lb AS (SELECT l, CAST(sum(CASE WHEN substring(
                 md5(l_orderkey::VARCHAR), 17 + l, 1) >= '8'
               THEN 1 ELSE -1 END) AS BIGINT) AS t
           FROM lineitem, ls WHERE l_orderkey IS NOT NULL GROUP BY l),
    d AS (SELECT CAST(sum(la.t * lb.t) AS BIGINT) AS dt
          FROM la JOIN lb ON lb.l = la.l),
    n AS (SELECT
            (SELECT CAST(count(o_orderkey) AS BIGINT) FROM orders) AS n_a,
            (SELECT CAST(count(l_orderkey) AS BIGINT) FROM lineitem) AS n_b,
            (SELECT CAST(count(*) AS BIGINT)
             FROM orders o JOIN lineitem li
               ON li.l_orderkey = o.o_orderkey) AS exact_join_size)
    SELECT n_a, n_b, CAST(dt AS DOUBLE) / 16.0 AS est_join_size,
           exact_join_size,
           round(abs(CAST(dt AS DOUBLE) / 16.0 - exact_join_size), 4)
             AS abs_err
    FROM n, d
    """,
)
def q217_join_size_estimate(spark, sf_dir):
    """Join-size prediction WITHOUT running the join: the AMS
    inner-product estimator (Alon, Gibbons, Matias, Szegedy 1999)
    predicts |orders ⋈ lineitem on orderkey| from two independent
    one-pass sign sketches — mean over 16 lanes of tA·tB, exact
    integer lane totals, one IEEE division — graded bit-for-bit
    beside the exact join count (the garnish: at 100 TB you'd run
    the estimate precisely to decide whether the join is runnable).
    Completes the join-planning battery: q167/q181 profile key
    distinctness and per-side skew, this prices the OUTPUT. See
    :func:`maston_spark.sketches.ams_join_size`."""
    from maston_spark.sketches import ams_join_size

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    est = ams_join_size(o, "o_orderkey", li, "l_orderkey", n_lanes=16)
    exact = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join_size"))
    )
    return est.crossJoin(exact).select(
        "n_a",
        "n_b",
        "est_join_size",
        "exact_join_size",
        F.round(
            F.abs(F.col("est_join_size") - F.col("exact_join_size")), 4
        ).alias("abs_err"),
    )


@query(
    "q218_spearman_corr",
    oracle="""
    WITH d AS (SELECT source,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
                      CAST(len(list_distinct(string_split(text, ' ')))
                           AS BIGINT) AS y
               FROM documents WHERE text IS NOT NULL),
    r AS (SELECT source,
                 2 * rank() OVER (PARTITION BY source ORDER BY x)
                   + count(*) OVER (PARTITION BY source, x) - 1 AS x2,
                 2 * rank() OVER (PARTITION BY source ORDER BY y)
                   + count(*) OVER (PARTITION BY source, y) - 1 AS y2
          FROM d),
    a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
                 sum(x2::HUGEINT) AS sx, sum(y2::HUGEINT) AS sy,
                 sum(x2::HUGEINT * y2) AS sxy,
                 sum(x2::HUGEINT * x2) AS sxx,
                 sum(y2::HUGEINT * y2) AS syy
          FROM r GROUP BY source)
    SELECT source, n_rows,
           CASE WHEN n_rows::HUGEINT * sxx - sx * sx > 0
                 AND n_rows::HUGEINT * syy - sy * sy > 0 THEN
             round(CAST(n_rows::HUGEINT * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(n_rows::HUGEINT * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(n_rows::HUGEINT * syy - sy * sy
                                  AS DOUBLE))), 6)
           END AS rho
    FROM a ORDER BY source
    """,
)
def q218_spearman_corr(spark, sf_dir):
    """Exact Spearman rank correlation per source between document
    length and vocabulary size — do the two signals order documents
    the same way (the monotone-association check run before one
    score proxies for another). Midrank tie correction keeps every
    sum an exact integer; two rank windows share one hash shuffle.
    See :func:`maston_spark.evaluation.spearman_corr`."""
    from maston_spark.evaluation import spearman_corr

    toks = F.split(F.col("text"), " ")
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            F.size(toks).cast("long").alias("x"),
            F.size(F.array_distinct(toks)).cast("long").alias("y"),
        )
    )
    return spearman_corr(d, "source", "x", "y").orderBy("source")


@query(
    "q219_compaction_plan",
    oracle="""
    WITH f AS (SELECT doc_id AS id,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS sz
               FROM documents WHERE text IS NOT NULL),
    c AS (SELECT id, sz,
                 sum(sz) OVER (ORDER BY sz DESC, id
                               ROWS UNBOUNDED PRECEDING) AS cum
          FROM f),
    g AS (SELECT id, sz,
                 CAST(floor((cum - sz) / 500.0) AS BIGINT) AS group_id
          FROM c)
    SELECT group_id, CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(sz) AS BIGINT) AS total_size,
           CAST(max(sz) AS BIGINT) AS max_file
    FROM g GROUP BY group_id ORDER BY group_id
    """,
)
def q219_compaction_plan(spark, sf_dir):
    """Small-file compaction plan over the documents "manifest"
    (doc token counts standing in for file sizes, target 500):
    deterministic next-fit-by-running-sum bin packing — every group
    bounded by target + its largest member — the OPTIMIZE planning
    step a lakehouse runs over file metadata before rewriting a
    100 TB table's small files. See
    :func:`maston_spark.relational.compaction_plan`."""
    from maston_spark.relational import compaction_plan

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            F.col("doc_id").alias("id"),
            F.size(F.split(F.col("text"), " ")).cast("long").alias("sz"),
        )
    )
    return compaction_plan(d, "id", "sz", target=500)


@query(
    "q220_wilson_keep_rate",
    oracle="""
    WITH d AS (SELECT source,
                 CASE WHEN len(string_split(text, ' ')) >= 50
                      THEN 1 ELSE 0 END AS y
               FROM documents WHERE text IS NOT NULL),
    a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(y) AS BIGINT) AS n_pos
          FROM d GROUP BY source),
    w AS (SELECT source, n_rows, n_pos,
                 CAST(n_pos AS DOUBLE) / n_rows AS p,
                 CAST(n_rows AS DOUBLE) AS n,
                 1.959963984540054 * 1.959963984540054 AS z2
          FROM a)
    SELECT source, n_rows, n_pos, round(p, 6) AS rate,
           round((p + z2 / (2.0 * n)
                  - 1.959963984540054
                    * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)))
                 / (1.0 + z2 / n), 6) AS lo,
           round((p + z2 / (2.0 * n)
                  + 1.959963984540054
                    * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n)))
                 / (1.0 + z2 / n), 6) AS hi
    FROM w ORDER BY source
    """,
)
def q220_wilson_keep_rate(spark, sf_dir):
    """Wilson 95% score interval on each source's keep rate (>= 50
    tokens) — the error bar a curation dashboard should print next
    to every per-source rate before anyone compares them (Wilson
    1927: stays in [0,1], sane at extreme rates, unlike the normal
    approximation). Exact counts in, one fixed IEEE expression tree
    replayed by the oracle. See
    :func:`maston_spark.evaluation.wilson_interval`."""
    from maston_spark.evaluation import wilson_interval

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "source",
            (F.size(F.split(F.col("text"), " ")) >= 50).cast("int").alias("y"),
        )
    )
    return wilson_interval(d, "source", "y").orderBy("source")


# ------------------------------------------- experimentation analytics


@query(
    "q221_cuped",
    oracle="""
    WITH u AS (
      SELECT CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                  % 2 AS INT) AS variant,
             CAST(COALESCE(round(sum(value) FILTER (WHERE ts < TIMESTAMP '2024-01-15'), 9), 0)
                  AS DECIMAL(18,9)) AS x,
             CAST(COALESCE(round(sum(value) FILTER (WHERE ts >= TIMESTAMP '2024-01-15'), 9), 0)
                  AS DECIMAL(18,9)) AS y
      FROM events WHERE value IS NOT NULL GROUP BY user_id),
    p AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
                 CAST(sum(x * x) AS DOUBLE) AS sxx,
                 CAST(sum(x * y) AS DOUBLE) AS sxy
          FROM u),
    v AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_units,
                 CAST(sum(x) AS DOUBLE) AS svx, CAST(sum(y) AS DOUBLE) AS svy
          FROM u GROUP BY variant)
    SELECT variant, n_units,
           round(svy / n_units, 6) AS mean_y,
           round(svy / n_units
                 - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                   * (svx / n_units - sx / n), 6) AS mean_y_cuped,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta
    FROM v, p ORDER BY variant
    """,
)
def q221_cuped(spark, sf_dir):
    """CUPED variance-reduced experiment readout over the events
    stream: units are users, the metric is the post-period
    (>= Jan 15) value sum, the covariate the PRE-period sum, the
    variant a deterministic md5 lane of the user id — per variant,
    the raw and CUPED-adjusted means plus the pooled θ =
    cov(x,y)/var(x) (Deng, Xu, Kohavi & Walker, WSDM 2013). All
    moment sums are decimal-exact on the 9-decimal grid; θ and the
    closing means are one fixed IEEE expression tree both engines
    replay. See
    :func:`maston_spark.evaluation.cuped_adjusted_means`."""
    from maston_spark.evaluation import cuped_adjusted_means

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    split = F.lit("2024-01-15").cast("timestamp")
    units = ev.groupBy("user_id").agg(
        F.coalesce(
            F.round(F.sum(F.when(F.col("ts") < split, F.col("value"))), 9),
            F.lit(0.0),
        ).alias("x"),
        F.coalesce(
            F.round(F.sum(F.when(F.col("ts") >= split, F.col("value"))), 9),
            F.lit(0.0),
        ).alias("y"),
    )
    lane = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    units = units.select(
        (lane % 2).cast("int").alias("variant"), "x", "y"
    )
    return cuped_adjusted_means(units, "variant", "y", "x").orderBy("variant")


# ------------------------------------------------- market-basket pairs


@query(
    "q222_brand_basket_pairs",
    oracle="""
    WITH it AS (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
                FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    ok AS (SELECT b FROM it GROUP BY b HAVING count(*) <= 1024),
    bd AS (SELECT it.b, it.i FROM it JOIN ok USING (b))
    SELECT a.i AS item_a, b2.i AS item_b,
           CAST(count(*) AS BIGINT) AS support
    FROM bd a JOIN bd b2 ON a.b = b2.b AND a.i < b2.i
    GROUP BY a.i, b2.i
    HAVING count(*) >= 2
    ORDER BY support DESC, item_a, item_b LIMIT 20
    """,
)
def q222_brand_basket_pairs(spark, sf_dir):
    """Frequent co-occurring brand PAIRS across order baskets — the
    Apriori 2-itemset census (Agrawal & Srikant 1994): top-20
    (brand_a, brand_b) by the number of distinct orders containing
    both. Pair generation is a self-join on the basket key (per-
    basket work bounded by C(|basket|,2); oversized baskets excluded
    by contract), the top-k a TakeOrdered. See
    :func:`maston_spark.relational.cooccurrence_pairs`."""
    from maston_spark.relational import cooccurrence_pairs

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return cooccurrence_pairs(
        j, "l_orderkey", "p_brand", min_support=2, top_k=20
    )


# --------------------------------------------- rolling sketch windows


@query(
    "q225_hll_rolling_distinct",
    oracle="""
    WITH src AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                        md5(user_id::VARCHAR) AS h
                 FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    b AS (SELECT d, ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
                 ('0x' || substr(h, 3, 13))::BIGINT AS w
          FROM src),
    r AS (SELECT d, bucket,
                 CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
          FROM b),
    regs AS (SELECT d, bucket, max(rho) AS mj FROM r GROUP BY d, bucket),
    days AS (SELECT DISTINCT d AS day FROM regs),
    wnd AS (SELECT days.day, regs.bucket, max(regs.mj) AS mj
            FROM days JOIN regs
              ON regs.d <= days.day AND regs.d >= days.day - INTERVAL 6 DAY
            GROUP BY days.day, regs.bucket),
    ag AS (SELECT day,
                  CAST(sum(CAST(power(2.0, 53 - mj) AS BIGINT)) AS BIGINT) AS sp,
                  count(*) AS npres
           FROM wnd GROUP BY day)
    SELECT CAST(day AS VARCHAR) AS day,
           round(47072.71267120224::DOUBLE * 9007199254740992.0::DOUBLE /
                 CAST(sp + (256 - npres) * 9007199254740992 AS DOUBLE), 4)
             AS n_distinct_est_raw,
           CAST(256 - npres AS BIGINT) AS v_zero_registers
    FROM ag ORDER BY day
    """,
)
def q225_hll_rolling_distinct(spark, sf_dir):
    """Trailing-7-day distinct users per day from MERGED daily HLL
    sketches — sketch once at ingest, answer any trailing-window
    question by per-bucket register MAX over the day grid, never
    re-scanning the corpus (the mergeability deployment pattern that
    justifies sketches at 100 TB). Raw harmonic estimate only
    (exact integer S, one IEEE quotient — the linear-counting
    correction stays graded in q202). See
    :func:`maston_spark.sketches.hll_rolling_distinct`."""
    from maston_spark.sketches import hll_rolling_distinct

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    out = hll_rolling_distinct(ev, "ts", "user_id", window_days=7, p=8)
    # date-typed outputs survive the pandas round-trip differently in
    # the two engines (date vs Timestamp) — grade as ISO strings
    return out.select(
        F.col("day").cast("string").alias("day"),
        "n_distinct_est_raw",
        "v_zero_registers",
    ).orderBy("day")


# ------------------------------------------------ robust aggregation


@query(
    "q226_trimmed_mean",
    oracle="""
    WITH b AS (SELECT l_returnflag AS g, l_extendedprice AS v,
                      row_number() OVER
                        (PARTITION BY l_returnflag ORDER BY l_extendedprice)
                        AS rn,
                      count(*) OVER (PARTITION BY l_returnflag) AS n
               FROM lineitem WHERE l_extendedprice IS NOT NULL),
    c AS (SELECT g, v, rn, n,
                 CAST(floor(n * 0.1) AS BIGINT) AS lo,
                 n - CAST(floor(n * 0.1) AS BIGINT) AS hi
          FROM b),
    a AS (SELECT g,
                 CAST(max(n) AS BIGINT) AS n_rows,
                 CAST(count(*) FILTER (WHERE rn > lo AND rn <= hi) AS BIGINT)
                   AS n_kept,
                 round(sum(v) FILTER (WHERE rn > lo AND rn <= hi), 9) AS sk,
                 min(v) FILTER (WHERE rn = lo + 1) AS vlo,
                 min(v) FILTER (WHERE rn = hi) AS vhi,
                 CAST(max(lo) AS BIGINT) AS lo
          FROM c GROUP BY g)
    SELECT g AS l_returnflag, n_rows, n_kept,
           round(sk / n_kept, 6) AS trimmed_mean,
           round((sk + lo * vlo + lo * vhi) / n_rows, 6) AS winsorized_mean
    FROM a ORDER BY l_returnflag
    """,
)
def q226_trimmed_mean(spark, sf_dir):
    """10%-trimmed and winsorized mean of extended price per return
    flag — robust location via exact order statistics (one rank
    window per group, min-when boundary picks, combiner-reduced
    aggregation); the average a dashboard should print when tail
    rows would otherwise own it. See
    :func:`maston_spark.relational.trimmed_stats`."""
    from maston_spark.relational import trimmed_stats

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    return trimmed_stats(li, "l_returnflag", "l_extendedprice", trim=0.1).orderBy(
        "l_returnflag"
    )


@query(
    "q228_benford_audit",
    oracle="""
    WITH v AS (SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
               WHERE o_totalprice IS NOT NULL
                 AND o_totalprice >= 1 AND o_totalprice < 1e13),
    d AS (SELECT CASE
            WHEN v >= 1e12 THEN CAST(floor(v / 1e12) AS INT)
            WHEN v >= 1e11 THEN CAST(floor(v / 1e11) AS INT)
            WHEN v >= 1e10 THEN CAST(floor(v / 1e10) AS INT)
            WHEN v >= 1e9  THEN CAST(floor(v / 1e9)  AS INT)
            WHEN v >= 1e8  THEN CAST(floor(v / 1e8)  AS INT)
            WHEN v >= 1e7  THEN CAST(floor(v / 1e7)  AS INT)
            WHEN v >= 1e6  THEN CAST(floor(v / 1e6)  AS INT)
            WHEN v >= 1e5  THEN CAST(floor(v / 1e5)  AS INT)
            WHEN v >= 1e4  THEN CAST(floor(v / 1e4)  AS INT)
            WHEN v >= 1e3  THEN CAST(floor(v / 1e3)  AS INT)
            WHEN v >= 1e2  THEN CAST(floor(v / 1e2)  AS INT)
            WHEN v >= 1e1  THEN CAST(floor(v / 1e1)  AS INT)
            ELSE CAST(floor(v) AS INT) END AS digit
          FROM v),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit),
    t AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS nn FROM c),
    e AS (SELECT * FROM (VALUES
            (1, 0.3010299956639812), (2, 0.17609125905568124),
            (3, 0.12493873660829992), (4, 0.09691001300805642),
            (5, 0.07918124604762482), (6, 0.06694678963061322),
            (7, 0.05799194697768673), (8, 0.05115252244738129),
            (9, 0.04575749056067514)) AS e(digit, exp))
    SELECT c.digit, c.n_obs,
           round(c.n_obs / nn, 6) AS obs_freq,
           round(e.exp, 6) AS exp_freq,
           round(abs(c.n_obs / nn - e.exp), 6) AS abs_dev
    FROM c JOIN e ON e.digit = c.digit, t
    ORDER BY c.digit
    """,
)
def q228_benford_audit(spark, sf_dir):
    """Benford first-digit audit of order totals — observed vs the
    log10(1+1/d) law per leading digit (Newcomb 1881 / Benford
    1938), the fabricated-data tell every financial/data-quality
    audit runs. Expected frequencies are python-precomputed literals
    (no libm on the data path); the first digit comes from a fixed
    power-of-ten cascade, never float-to-string formatting. See
    :func:`maston_spark.profiling.benford_audit`."""
    from maston_spark.profiling import benford_audit

    o = load_table(spark, sf_dir, "orders").select("o_totalprice")
    return benford_audit(o, "o_totalprice")


@query(
    "q229_gains_table",
    oracle="""
    WITH b AS (SELECT value AS s,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                      event_id AS t
               FROM events
               WHERE value IS NOT NULL AND event_type IS NOT NULL),
    r AS (SELECT y,
                 row_number() OVER (ORDER BY s DESC, t ASC) AS rn
          FROM b),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(y) AS BIGINT) AS np FROM r),
    bk AS (SELECT CAST(((rn - 1) * 10) // n AS INT) AS bucket, y, n, np
           FROM r, tt),
    per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(y) AS BIGINT) AS n_pos,
                   max(n) AS n, max(np) AS np
            FROM bk GROUP BY bucket),
    c AS (SELECT bucket, n_rows, n_pos, n, np,
                 sum(n_rows) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cr,
                 sum(n_pos) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
          FROM per)
    SELECT bucket, n_rows, n_pos,
           round(CAST(cp AS DOUBLE) / CAST(np AS DOUBLE), 6) AS cum_capture,
           round((CAST(cp AS DOUBLE) / CAST(cr AS DOUBLE))
                 / (CAST(np AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS lift
    FROM c ORDER BY bucket
    """,
)
def q229_gains_table(spark, sf_dir):
    """Cumulative gains / lift deciles for 'value predicts purchase'
    over the events stream — the classifier-triage chart beside
    q212's AUC, with the score ordering running through the
    TWO-PHASE global rank (no partition-less ntile window pulls the
    corpus through one task — the q117 fix exercised as a graded
    query). See :func:`maston_spark.evaluation.gains_table`."""
    from maston_spark.evaluation import gains_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    ).select(
        F.col("value").alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        F.col("event_id").alias("t"),
    )
    return gains_table(ev, "s", "y", "t", n_buckets=10)


@query(
    "q230_hll_cube",
    oracle="""
    WITH src AS (SELECT event_type AS a,
                        CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS b,
                        md5(user_id::VARCHAR) AS h
                 FROM events
                 WHERE event_type IS NOT NULL AND ts IS NOT NULL
                   AND user_id IS NOT NULL),
    x AS (SELECT a, b, ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
                 ('0x' || substr(h, 3, 13))::BIGINT AS w
          FROM src),
    r AS (SELECT a, b, bucket,
                 CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
          FROM x),
    regs AS (SELECT a, b, bucket, max(rho) AS mj FROM r GROUP BY a, b, bucket),
    merged AS (
      SELECT 'a,b' AS level, a, b, bucket, mj FROM regs
      UNION ALL
      SELECT 'a', a, 'ALL', bucket, max(mj) FROM regs GROUP BY a, bucket
      UNION ALL
      SELECT 'b', 'ALL', b, bucket, max(mj) FROM regs GROUP BY b, bucket
      UNION ALL
      SELECT 'all', 'ALL', 'ALL', bucket, max(mj) FROM regs GROUP BY bucket),
    ag AS (SELECT level, a, b,
                  CAST(sum(CAST(power(2.0, 53 - mj) AS BIGINT)) AS BIGINT) AS sp,
                  count(*) AS npres
           FROM merged GROUP BY level, a, b)
    SELECT level, a AS event_type, b AS day,
           round(47072.71267120224::DOUBLE * 9007199254740992.0::DOUBLE /
                 CAST(sp + (256 - npres) * 9007199254740992 AS DOUBLE), 4)
             AS n_distinct_est_raw,
           CAST(256 - npres AS BIGINT) AS v_zero_registers
    FROM ag ORDER BY level, event_type, day
    """,
)
def q230_hll_cube(spark, sf_dir):
    """Distinct-users CUBE over (event_type x day) from ONE HLL
    register build — every grouping level (cell, each axis, grand
    total) derived by per-bucket register MAX, never re-scanning the
    corpus: the OLAP payoff of sketch mergeability (one scan where
    exact count-distinct re-shuffles per level). Raw harmonic
    estimates, graded bit-for-bit. See
    :func:`maston_spark.sketches.hll_rollup_cube`."""
    from maston_spark.sketches import hll_rollup_cube

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").cast("string").alias("day"),
        "user_id",
    )
    return hll_rollup_cube(ev, "event_type", "day", "user_id", p=8)


@query(
    "q231_hll_rolling_prefix",
    oracle="""
    WITH src AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
                        md5(user_id::VARCHAR) AS h
                 FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    b AS (SELECT d, ('0x' || substr(h, 1, 2))::BIGINT AS bucket,
                 ('0x' || substr(h, 3, 13))::BIGINT AS w
          FROM src),
    r AS (SELECT d, bucket,
                 CASE WHEN w = 0 THEN 53 ELSE 53 - length(bin(w)) END AS rho
          FROM b),
    regs AS (SELECT d, bucket, max(rho) AS mj FROM r GROUP BY d, bucket),
    days AS (SELECT DISTINCT d AS day FROM regs),
    wnd AS (SELECT days.day, regs.bucket, max(regs.mj) AS mj
            FROM days JOIN regs
              ON regs.d <= days.day AND regs.d >= days.day - INTERVAL 6 DAY
            GROUP BY days.day, regs.bucket),
    ag AS (SELECT day,
                  CAST(sum(CAST(power(2.0, 53 - mj) AS BIGINT)) AS BIGINT) AS sp,
                  count(*) AS npres
           FROM wnd GROUP BY day)
    SELECT CAST(day AS VARCHAR) AS day,
           round(47072.71267120224::DOUBLE * 9007199254740992.0::DOUBLE /
                 CAST(sp + (256 - npres) * 9007199254740992 AS DOUBLE), 4)
             AS n_distinct_est_raw,
           CAST(256 - npres AS BIGINT) AS v_zero_registers
    FROM ag ORDER BY day
    """,
)
def q231_hll_rolling_prefix(spark, sf_dir):
    """The rolling-HLL TOPOLOGY's emitted-estimate-equals-one-shot
    claim graded cross-engine: events split into 3 deterministic
    micro-batches (event_id mod 3), each batch's day registers folded
    into the running state by the SAME per-(day, bucket) MAX the
    streaming topology applies, final emit compared against the
    oracle's ONE-SHOT registers of the whole history — register MAX
    merge is a set identity, so the incremental path is
    bit-identical. The sixth streaming state fold with an
    oracle-graded batch twin (see
    :func:`maston_spark.streaming.topology.hll_rolling_topology`)."""
    from maston_spark.sketches import hll_raw_estimate, hll_registers

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("__day"),
            F.col("user_id").alias("__v"),
            "event_id",
        )
    )
    state = None
    for b in range(3):
        batch = ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b).select(
            "__day", "__v"
        )
        regs_b = hll_registers(batch, "__day", "__v", p=8)
        state = (
            regs_b
            if state is None
            else state.unionByName(regs_b)
            .groupBy("__day", "bucket")
            .agg(F.max("mj").alias("mj"))
        )
    days = state.select(F.col("__day").alias("day")).distinct()
    merged = (
        F.broadcast(days)
        .join(
            state,
            F.datediff(F.col("day"), F.col("__day")).between(0, 6),
        )
        .groupBy("day", "bucket")
        .agg(F.max("mj").alias("mj"))
    )
    return (
        hll_raw_estimate(merged, ["day"], p=8)
        .select(
            F.col("day").cast("string").alias("day"),
            "n_distinct_est_raw",
            "v_zero_registers",
        )
        .orderBy("day")
    )


@query(
    "q232_pruning_effectiveness",
    oracle="""
    WITH b AS (SELECT min(o_custkey) AS xlo, max(o_custkey) AS xhi,
                      min(o_orderkey) AS ylo, max(o_orderkey) AS yhi
               FROM orders),
    s AS (SELECT CAST((CAST(o_custkey AS HUGEINT) - xlo) * 65536
                      // (CAST(xhi AS HUGEINT) - xlo + 1)
                      AS BIGINT) AS xl,
                 CAST((CAST(o_orderkey AS HUGEINT) - ylo) * 65536
                      // (CAST(yhi AS HUGEINT) - ylo + 1)
                      AS BIGINT) AS yl
          FROM orders, b),
    z AS (SELECT xl, yl, ({_ZT})::BIGINT AS zv FROM s),
    lay AS (
      SELECT 'zorder' AS layout, CAST(zv >> 27 AS INT) AS file_id, xl, yl
      FROM z
      UNION ALL
      SELECT 'single', CAST(yl >> 11 AS INT), xl, yl FROM z),
    f AS (SELECT layout, file_id,
                 min(xl) AS x_min, max(xl) AS x_max,
                 min(yl) AS y_min, max(yl) AS y_max
          FROM lay GROUP BY layout, file_id),
    p AS (SELECT i * 8192 AS p_lo, (i + 1) * 8192 AS p_hi
          FROM (SELECT unnest(range(8)) AS i)),
    fx AS (SELECT layout, 'x' AS pred_dim,
                  CAST(count(DISTINCT file_id) AS BIGINT) AS n_files,
                  CAST(sum(CASE WHEN x_max < p_lo OR x_min >= p_hi
                                THEN 1 ELSE 0 END) AS BIGINT)
                    AS prunable_file_checks,
                  count(*) AS checks
           FROM f, p GROUP BY layout),
    fy AS (SELECT layout, 'y' AS pred_dim,
                  CAST(count(DISTINCT file_id) AS BIGINT) AS n_files,
                  CAST(sum(CASE WHEN y_max < p_lo OR y_min >= p_hi
                                THEN 1 ELSE 0 END) AS BIGINT)
                    AS prunable_file_checks,
                  count(*) AS checks
           FROM f, p GROUP BY layout)
    SELECT layout, pred_dim, CAST(8 AS BIGINT) AS n_predicates, n_files,
           prunable_file_checks,
           round(prunable_file_checks / CAST(checks AS DOUBLE), 6)
             AS prune_frac
    FROM (SELECT * FROM fx UNION ALL SELECT * FROM fy)
    ORDER BY layout, pred_dim
    """.replace("{_ZT}", _zorder_terms("xl", "yl")),
)
def q232_pruning_effectiveness(spark, sf_dir):
    """Measured file-skip rates for z-order vs single-column layout
    under an 8-predicate range workload per dimension — the decision
    number behind ZORDER BY, computed from the same simulated-file
    min/max stats a lakehouse footer keeps: z-order prunes on BOTH
    axes, the primary-key sort only on its own. See
    :func:`maston_spark.relational.pruning_effectiveness`."""
    from maston_spark.relational import pruning_effectiveness

    o = load_table(spark, sf_dir, "orders")
    return pruning_effectiveness(
        o, "o_custkey", "o_orderkey", bits=16, file_bits=5, n_predicates=8
    )


@query(
    "q233_heavy_hitter_delta",
    oracle="""
    WITH per AS (
      SELECT user_id AS item,
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_after
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY user_id)
    SELECT item, n_before, n_after,
           n_after - n_before AS delta,
           CASE WHEN n_before > 0
                THEN round((n_after - n_before) / CAST(n_before AS DOUBLE), 6)
           END AS pct_change
    FROM per
    ORDER BY abs(n_after - n_before) DESC, item LIMIT 15
    """,
)
def q233_heavy_hitter_delta(spark, sf_dir):
    """Which users' event volume shifted most across the mid-month
    split — exact period-over-period counts from ONE pivoted
    aggregation, TakeOrdered top-15 by |delta|: the "who became
    hot / went quiet" half of drift monitoring (q178/q194 ask IF the
    mix moved; this names WHO). See
    :func:`maston_spark.profiling.period_delta_topk`."""
    from maston_spark.profiling import period_delta_topk

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    return period_delta_topk(ev, "ts", "user_id", "2024-01-15", k=15)


@query(
    "q234_bootstrap_ci",
    oracle="""
    WITH blks AS (SELECT unnest(range(8)) AS blk),
    lanes AS (SELECT unnest(range(4)) AS j),
    e AS (SELECT 4 * blk + j AS rep,
                 ('0x' || substr(md5('bs:' || blk || ':' ||
                                     l_orderkey || '#' || l_linenumber),
                                 1 + 8 * j, 8))::BIGINT AS lane,
                 CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,9))
                           AS DECIMAL(28,9)) * 1000000000
                      AS BIGINT) AS xi
          FROM lineitem, blks, lanes
          WHERE l_extendedprice IS NOT NULL),
    ww AS (SELECT rep,
                  CASE WHEN lane < 1580030168 THEN 0
                       WHEN lane < 3160060337 THEN 1
                       WHEN lane < 3950075421 THEN 2
                       WHEN lane < 4213413783 THEN 3
                       WHEN lane < 4279248373 THEN 4
                       WHEN lane < 4292415291 THEN 5
                       WHEN lane < 4294609777 THEN 6
                       ELSE 7 END AS w,
                  xi
           FROM e),
    agg AS (SELECT rep, CAST(sum(w) AS BIGINT) AS sw,
                   sum(CAST(w AS BIGINT) * xi) AS swxi
            FROM ww GROUP BY rep),
    m AS (SELECT rep,
                 round(CAST(swxi AS DOUBLE) / (CAST(sw AS DOUBLE) * 1e9),
                       6) AS mm
          FROM agg),
    rk AS (SELECT mm, row_number() OVER (ORDER BY mm, rep) AS rn FROM m)
    SELECT CAST(count(*) AS BIGINT) AS n_replicates,
           round(sum(mm) / count(*), 6) AS est_mean,
           min(CASE WHEN rn = 2 THEN mm END) AS ci_lo,
           min(CASE WHEN rn = 31 THEN mm END) AS ci_hi
    FROM rk
    """,
)
def q234_bootstrap_ci(spark, sf_dir):
    """Deterministic Poisson-bootstrap 95% CI for the mean extended
    price — distributed resampling inference (Chamandy et al. 2012)
    with md5-derived integer Poisson(1) multiplicities, so the
    Monte-Carlo construction itself is GRADED cross-engine rather
    than trusted: no RNG, no resampled data copies, 32 replicates
    folded in one combiner-reduced pass. See
    :func:`maston_spark.evaluation.poisson_bootstrap_ci`."""
    from maston_spark.evaluation import poisson_bootstrap_ci

    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        "l_extendedprice",
    )
    return poisson_bootstrap_ci(li, "l_extendedprice", "rid", b=32)


@query(
    "q235_transition_lift",
    oracle="""
    WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
               FROM events WHERE event_type IS NOT NULL
                 AND user_id IS NOT NULL AND ts IS NOT NULL),
    t AS (SELECT event_type AS event_a,
                 lead(event_type) OVER
                   (PARTITION BY user_id ORDER BY us, event_id) AS event_b
          FROM e),
    p AS (SELECT event_a, event_b, CAST(count(*) AS BIGINT) AS n_ab
          FROM t WHERE event_b IS NOT NULL GROUP BY event_a, event_b),
    oa AS (SELECT event_a, sum(n_ab) AS na FROM p GROUP BY event_a),
    ib AS (SELECT event_b, sum(n_ab) AS nb FROM p GROUP BY event_b),
    tt AS (SELECT sum(n_ab) AS n FROM p)
    SELECT p.event_a, p.event_b, p.n_ab,
           round(p.n_ab / CAST(na AS DOUBLE), 6) AS confidence,
           round(CAST(CAST(p.n_ab AS HUGEINT) * n AS DOUBLE)
                 / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE), 6) AS lift
    FROM p JOIN oa USING (event_a) JOIN ib USING (event_b), tt
    WHERE p.n_ab >= 2
    ORDER BY lift DESC, event_a, event_b LIMIT 20
    """,
)
def q235_transition_lift(spark, sf_dir):
    """Directed event-transition lift over per-user streams — which
    event genuinely LEADS to which, scored against independent
    marginals (association-rule confidence/lift on sequences; q110
    counts paths, q222 unordered pairs, this scores adjacency).
    Integer cross-multiplied lift, one closing IEEE division. See
    :func:`maston_spark.relational.transition_lift`."""
    from maston_spark.relational import transition_lift

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return transition_lift(
        ev, "user_id", "ts", "event_type", "event_id", min_support=2, top_k=20
    )


@query(
    "q236_diff_in_diff",
    oracle="""
    WITH u AS (SELECT CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                      % 2 AS INT) AS t,
                      CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END AS p,
                      CAST(value AS DECIMAL(18,9)) AS y
               FROM events WHERE value IS NOT NULL),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(y) FILTER (WHERE t=0 AND p=0) AS DOUBLE) AS s00,
                 CAST(count(*) FILTER (WHERE t=0 AND p=0) AS DOUBLE) AS n00,
                 CAST(sum(y) FILTER (WHERE t=0 AND p=1) AS DOUBLE) AS s01,
                 CAST(count(*) FILTER (WHERE t=0 AND p=1) AS DOUBLE) AS n01,
                 CAST(sum(y) FILTER (WHERE t=1 AND p=0) AS DOUBLE) AS s10,
                 CAST(count(*) FILTER (WHERE t=1 AND p=0) AS DOUBLE) AS n10,
                 CAST(sum(y) FILTER (WHERE t=1 AND p=1) AS DOUBLE) AS s11,
                 CAST(count(*) FILTER (WHERE t=1 AND p=1) AS DOUBLE) AS n11
          FROM u)
    SELECT n_rows,
           round(s00 / n00, 6) AS m_ctrl_pre,
           round(s01 / n01, 6) AS m_ctrl_post,
           round(s10 / n10, 6) AS m_treat_pre,
           round(s11 / n11, 6) AS m_treat_post,
           round((s11 / n11 - s10 / n10) - (s01 / n01 - s00 / n00), 6) AS did
    FROM a
    """,
)
def q236_diff_in_diff(spark, sf_dir):
    """Difference-in-differences readout over the events stream —
    the parallel-trends estimator for unrandomized rollouts (Card &
    Krueger 1994 canon), same deterministic md5 cohorting and
    mid-month period split as q221's CUPED: four conditional
    decimal-sum cells off ONE scan, closing subtractions a fixed
    IEEE tree. See :func:`maston_spark.evaluation.diff_in_diff`."""
    from maston_spark.evaluation import diff_in_diff

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    lane = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    units = ev.select(
        (lane % 2).cast("int").alias("t"),
        (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
        .cast("int")
        .alias("p"),
        F.col("value").alias("y"),
    )
    return diff_in_diff(units, "t", "p", "y")


@query(
    "q237_chao1_vocab",
    oracle="""
    WITH tf AS (
      SELECT source AS g, tok, count(*) AS f
      FROM (SELECT source, unnest(string_split_regex(text, '\\s+')) AS tok
            FROM documents WHERE text IS NOT NULL)
      WHERE tok <> '' GROUP BY source, tok),
    a AS (SELECT g, CAST(sum(f) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS v_observed,
                 CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_singletons,
                 CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_doubletons
          FROM tf GROUP BY g)
    SELECT g AS source, n_tokens, v_observed, n_singletons, n_doubletons,
           round(v_observed + CAST(n_singletons AS DOUBLE)
                 * (CAST(n_singletons AS DOUBLE) - 1.0)
                 / (2.0 * (CAST(n_doubletons AS DOUBLE) + 1.0)), 4) AS chao1,
           round(CAST(n_singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS gt_unseen_mass
    FROM a ORDER BY source
    """,
)
def q237_chao1_vocab(spark, sf_dir):
    """Per-source vocabulary-richness planning: bias-corrected Chao1
    species estimate and Good-Turing unseen probability mass — the
    "is this crawl saturated" numbers a data-acquisition budget
    reads, exact rationals of frequency-of-frequency counts. See
    :func:`maston_spark.llm.text.chao1_vocab_richness`."""
    from maston_spark.llm.text import chao1_vocab_richness

    d = load_table(spark, sf_dir, "documents").select("source", "text")
    return chao1_vocab_richness(d, "source", "text")


@query(
    "q238_mde_power",
    oracle="""
    WITH u AS (SELECT source AS g, CAST(n_chars AS DECIMAL(18,9)) AS x
               FROM documents WHERE n_chars IS NOT NULL),
    a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS DOUBLE) AS sx,
                 CAST(sum(x * x) AS DOUBLE) AS sxx
          FROM u GROUP BY g)
    SELECT g AS source, n,
           round(sx / CAST(n AS DOUBLE), 6) AS mean,
           round(sqrt(greatest((sxx - sx * sx / CAST(n AS DOUBLE))
                               / CAST(n AS DOUBLE), 0.0)), 6) AS sd,
           round((1.959963984540054 + 0.8416212335729143)
                 * sqrt(2.0 * greatest((sxx - sx * sx / CAST(n AS DOUBLE))
                                       / CAST(n AS DOUBLE), 0.0)
                        / CAST(n AS DOUBLE)), 6) AS mde_abs,
           CASE WHEN sx / CAST(n AS DOUBLE) <> 0 THEN
             round(((1.959963984540054 + 0.8416212335729143)
                    * sqrt(2.0 * greatest((sxx - sx * sx / CAST(n AS DOUBLE))
                                          / CAST(n AS DOUBLE), 0.0)
                           / CAST(n AS DOUBLE)))
                   / (sx / CAST(n AS DOUBLE)), 6) END AS mde_rel
    FROM a ORDER BY source
    """,
)
def q238_mde_power(spark, sf_dir):
    """Minimum detectable effect per source at 95%/80% for a
    two-sample mean test on document length — the pre-experiment
    sizing gate that belongs BEFORE q221/q236's readouts: embedded z
    literals, decimal-exact moments, correctly-rounded sqrt. See
    :func:`maston_spark.evaluation.mde_power`."""
    from maston_spark.evaluation import mde_power

    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    return mde_power(d, "source", "n_chars")


@query(
    "q239_fleiss_kappa",
    oracle="""
    WITH it AS (
      SELECT CASE WHEN len(string_split(text, ' ')) >= 30 THEN 1 ELSE 0 END
             + CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 ELSE 0 END
             + CASE WHEN len(string_split(text, ' ')) >= 50 THEN 1 ELSE 0 END
               AS n_yes
      FROM documents WHERE text IS NOT NULL),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
                 sum(CAST(n_yes AS HUGEINT) * n_yes
                     + CAST(3 - n_yes AS HUGEINT) * (3 - n_yes)) AS ss,
                 sum(CAST(n_yes AS HUGEINT)) AS ty,
                 sum(CAST(3 - n_yes AS HUGEINT)) AS tn
          FROM it)
    SELECT n_items,
           round((CAST(ss AS DOUBLE) - CAST(n_items AS DOUBLE) * 3.0)
                 / (CAST(n_items AS DOUBLE) * 6.0), 6) AS p_bar,
           round((CAST(ty AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                 * (CAST(ty AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                 + (CAST(tn AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                 * (CAST(tn AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0)), 6)
             AS p_bar_e,
           CASE WHEN (CAST(ty AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                     * (CAST(ty AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                     + (CAST(tn AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                     * (CAST(tn AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                     < 1.0
                THEN round(((CAST(ss AS DOUBLE) - CAST(n_items AS DOUBLE) * 3.0)
                            / (CAST(n_items AS DOUBLE) * 6.0)
                            - ((CAST(ty AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                               * (CAST(ty AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                               + (CAST(tn AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                               * (CAST(tn AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))))
                           / (1.0 - ((CAST(ty AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                                     * (CAST(ty AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                                     + (CAST(tn AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0))
                                     * (CAST(tn AS DOUBLE) / (CAST(n_items AS DOUBLE) * 3.0)))), 6)
           END AS kappa
    FROM a
    """,
)
def q239_fleiss_kappa(spark, sf_dir):
    """Fleiss' kappa across three deterministic keep/drop 'raters'
    (length gates at 30/40/50 tokens — raters that genuinely
    disagree on mid-length documents): multi-rater chance-corrected
    agreement (Fleiss 1971), the m>2 generalization of q216's
    Cohen's kappa; exact integer squares, one closing quotient. See
    :func:`maston_spark.evaluation.fleiss_kappa`."""
    from maston_spark.evaluation import fleiss_kappa

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    wc = F.size(F.split(F.col("text"), " "))
    items = d.select(
        (
            (wc >= 30).cast("int")
            + (wc >= 40).cast("int")
            + (wc >= 50).cast("int")
        ).alias("n_yes")
    ).select("n_yes", (F.lit(3) - F.col("n_yes")).alias("n_no"))
    return fleiss_kappa(items, ["n_yes", "n_no"], n_raters=3)


@query(
    "q240_srm_check",
    oracle="""
    WITH u AS (SELECT CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                      % 2 AS INT) AS variant
               FROM events),
    o AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_obs FROM u GROUP BY variant),
    t AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS n FROM o),
    p AS (SELECT variant, n_obs, CAST(0.5 AS DOUBLE) AS expected_share,
                 round(0.5 * n, 6) AS n_exp,
                 round((CAST(n_obs AS DOUBLE) - 0.5 * n)
                       * (CAST(n_obs AS DOUBLE) - 0.5 * n) / (0.5 * n), 9) AS c
          FROM o, t),
    c2 AS (SELECT round(sum(c), 6) AS chi2 FROM p)
    SELECT variant, n_obs, expected_share, n_exp, chi2,
           chi2 > 10.827566170662733 AS srm_detected
    FROM p, c2 ORDER BY variant
    """,
)
def q240_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guard on the SAME deterministic md5
    cohorting q221/q236 read out — the chi-square gate (df=1 critical
    value at α=0.001 embedded as a literal, Fabijan et al. 2019) that
    must pass before any experiment readout is trusted. See
    :func:`maston_spark.evaluation.srm_check`."""
    from maston_spark.evaluation import srm_check

    ev = load_table(spark, sf_dir, "events").select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        .cast("int")
        .alias("variant")
    )
    return srm_check(ev, "variant", {0: 0.5, 1: 0.5})


@query(
    "q241_jackknife_ratio",
    oracle="""
    WITH r AS (SELECT CAST(('0x' || substr(md5('jk:' || CAST(l_orderkey AS VARCHAR)
                                           || '#' || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
                      % 32 AS BIGINT) AS b,
                      CAST(l_extendedprice AS DECIMAL(18,9)) AS nu,
                      CAST(l_quantity AS DECIMAL(18,9)) AS de
               FROM lineitem),
    bk AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt, sum(nu) AS sn, sum(de) AS sd
           FROM r GROUP BY b),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS rows_, CAST(count(*) AS BIGINT) AS nb,
                 sum(sn) AS tn, sum(sd) AS td
          FROM bk),
    reps AS (SELECT rows_, nb, tn, td,
                    round(CAST(tn - sn AS DOUBLE) / CAST(td - sd AS DOUBLE), 9) AS rr
             FROM bk, t),
    o AS (SELECT rows_, nb, tn, td, round(sum(rr), 9) AS sr,
                 round(sum(rr * rr), 9) AS srr
          FROM reps GROUP BY rows_, nb, tn, td)
    SELECT rows_ AS n_rows, CAST(nb AS INT) AS n_buckets,
           round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE), 6) AS ratio,
           round(sqrt(greatest((CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE)
                               * (srr - sr * sr / CAST(nb AS DOUBLE)), 0.0)), 6) AS se_jack,
           round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE)
                 - 1.959963984540054
                   * sqrt(greatest((CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE)
                                   * (srr - sr * sr / CAST(nb AS DOUBLE)), 0.0)), 6) AS ci_lo,
           round(CAST(tn AS DOUBLE) / CAST(td AS DOUBLE)
                 + 1.959963984540054
                   * sqrt(greatest((CAST(nb AS DOUBLE) - 1.0) / CAST(nb AS DOUBLE)
                                   * (srr - sr * sr / CAST(nb AS DOUBLE)), 0.0)), 6) AS ci_hi
    FROM o
    """,
)
def q241_jackknife_ratio(spark, sf_dir):
    """Leave-one-bucket-out jackknife 95% CI for price-per-unit
    (Σ extendedprice / Σ quantity) — the correlated-ratio variance
    q234's mean bootstrap cannot answer, same md5 bucket
    determinism. See
    :func:`maston_spark.evaluation.jackknife_ratio_ci`."""
    from maston_spark.evaluation import jackknife_ratio_ci

    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        "l_extendedprice",
        "l_quantity",
    )
    return jackknife_ratio_ci(
        li, "l_extendedprice", "l_quantity", "rid", n_buckets=32
    )


@query(
    "q242_ndcg_mrr",
    oracle="""
    WITH d AS (SELECT lang AS "group", doc_id,
                      CAST(('0x' || substr(md5('score:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                           % 100000 AS BIGINT) AS score,
                      CASE WHEN len(string_split(text, ' ')) >= 80 THEN 3
                           WHEN len(string_split(text, ' ')) >= 50 THEN 2
                           WHEN len(string_split(text, ' ')) >= 30 THEN 1
                           ELSE 0 END AS rel
               FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
    r AS (SELECT "group", doc_id, rel,
                 row_number() OVER (PARTITION BY "group" ORDER BY score DESC, doc_id) AS rk,
                 row_number() OVER (PARTITION BY "group" ORDER BY rel DESC, doc_id) AS rki
          FROM d),
    w(wrk, disc) AS (VALUES
      (1, 1.0), (2, 0.6309297535714575), (3, 0.5), (4, 0.43067655807339306),
      (5, 0.38685280723454163), (6, 0.3562071871080222), (7, 0.3333333333333333),
      (8, 0.31546487678572877), (9, 0.3010299956639812), (10, 0.2890648263178879)),
    terms AS (SELECT r."group", r.rel, r.rk, r.rki,
                     round(CAST(r.rel AS DOUBLE) * wd.disc, 9) AS t_dcg,
                     round(CAST(r.rel AS DOUBLE) * wi.disc, 9) AS t_idcg
              FROM r LEFT JOIN w wd ON r.rk = wd.wrk
                     LEFT JOIN w wi ON r.rki = wi.wrk),
    per AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
                   round(sum(CASE WHEN rk <= 10 THEN t_dcg END), 9) AS dcg,
                   round(sum(CASE WHEN rki <= 10 THEN t_idcg END), 9) AS idcg,
                   min(CASE WHEN rk <= 10 AND rel > 0 THEN rk END) AS fr
            FROM terms GROUP BY "group")
    SELECT "group", n_docs,
           COALESCE(dcg, 0.0) AS dcg_at_k,
           COALESCE(idcg, 0.0) AS idcg_at_k,
           CASE WHEN idcg > 0 THEN round(dcg / idcg, 6) END AS ndcg_at_k,
           COALESCE(round(1.0 / CAST(fr AS DOUBLE), 6), 0.0) AS mrr
    FROM per ORDER BY "group"
    """,
)
def q242_ndcg_mrr(spark, sf_dir):
    """NDCG@10 + MRR per language for a deterministic stand-in
    retrieval scorer (md5-lane score, word-count graded relevance) —
    position-aware ranking quality next to the order-blind q212 AUC;
    log2 discounts are embedded literals mirrored in the oracle's
    VALUES table so no in-engine libm is trusted. See
    :func:`maston_spark.evaluation.ndcg_at_k`."""
    from maston_spark.evaluation import ndcg_at_k

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    wc = F.size(F.split(F.col("text"), " "))
    scored = d.select(
        F.col("lang"),
        F.col("doc_id"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("score:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 100000
        ).alias("score"),
        F.when(wc >= 80, 3)
        .when(wc >= 50, 2)
        .when(wc >= 30, 1)
        .otherwise(0)
        .alias("rel"),
    )
    return ndcg_at_k(scored, "lang", "score", "rel", "doc_id", k=10)


@query(
    "q243_krippendorff_alpha",
    oracle="""
    WITH base AS (SELECT doc_id, len(string_split(text, ' ')) AS wc
                  FROM documents WHERE text IS NOT NULL),
    ratings AS (SELECT doc_id,
                       CASE WHEN wc >= 30 + 10 * r THEN 'keep' ELSE 'drop' END AS val
                FROM base, (VALUES (0), (1), (2), (3)) AS t(r)
                WHERE ('0x' || substr(md5('abst:' || CAST(doc_id AS VARCHAR)
                                          || ':' || CAST(r AS VARCHAR)), 1, 8))::BIGINT
                      % 5 <> 0),
    uc AS (SELECT doc_id, val, CAST(count(*) AS BIGINT) AS n
           FROM ratings GROUP BY doc_id, val),
    um AS (SELECT doc_id, val, n, sum(n) OVER (PARTITION BY doc_id) AS m FROM uc),
    kept AS (SELECT * FROM um WHERE m >= 2),
    perc AS (SELECT val, sum(CAST(n AS HUGEINT)) AS nc,
                    sum(CAST(n AS HUGEINT) * CAST(m - n AS HUGEINT)
                        * CAST(6 // (m - 1) AS HUGEINT)) AS x
             FROM kept GROUP BY val),
    tot AS (SELECT sum(nc) AS nn, sum(x) AS xx FROM perc),
    de AS (SELECT sum(nc * (nn - nc)) AS de_num, max(nn) AS nn, max(xx) AS xx
           FROM perc, tot),
    un AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_units FROM kept)
    SELECT n_units, CAST(nn AS BIGINT) AS n_pairable,
           round(CAST(xx AS DOUBLE) / (6.0 * CAST(nn AS DOUBLE)), 6) AS d_o,
           round(CAST(de_num AS DOUBLE)
                 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)), 6) AS d_e,
           CASE WHEN de_num > 0 THEN
             round(1.0 - CAST(xx AS DOUBLE) * (CAST(nn AS DOUBLE) - 1.0)
                   / (6.0 * CAST(de_num AS DOUBLE)), 6) END AS alpha
    FROM de, un
    """,
)
def q243_krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha over four deterministic keep/drop raters
    with md5-deterministic ABSTENTIONS (one rating in five missing) —
    the missing-data agreement statistic q239's Fleiss kappa cannot
    compute, exact-rational via the lcm(1..3)=6 common denominator.
    See :func:`maston_spark.evaluation.krippendorff_alpha`."""
    from maston_spark.evaluation import krippendorff_alpha

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    wc = F.size(F.split(F.col("text"), " "))
    pairs = d.select(
        "doc_id",
        wc.alias("__wc"),
        F.explode(F.array(*[F.lit(r) for r in range(4)])).alias("__r"),
    )
    lane = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("abst:"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("__r").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    ratings = pairs.filter(lane % 5 != 0).select(
        "doc_id",
        F.when(F.col("__wc") >= 30 + 10 * F.col("__r"), F.lit("keep"))
        .otherwise(F.lit("drop"))
        .alias("rating"),
    )
    return krippendorff_alpha(ratings, "doc_id", "rating", max_raters=4)


@query(
    "q245_eb_keep_rates",
    oracle="""
    WITH d AS (SELECT source AS grp,
                      CASE WHEN len(string_split(text, ' ')) >= 40 THEN 1 ELSE 0 END AS y
               FROM documents WHERE text IS NOT NULL AND source IS NOT NULL),
    g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS k
          FROM d GROUP BY grp),
    gg AS (SELECT grp, n, k, round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 9) AS p FROM g),
    pr AS (SELECT CAST(count(*) AS BIGINT) AS ng, CAST(sum(k) AS BIGINT) AS tk,
                  CAST(sum(n) AS BIGINT) AS tn,
                  round(sum(p), 9) AS sp, round(sum(p * p), 9) AS spp
           FROM gg),
    f AS (SELECT gg.*, ng, tk, tn, sp, spp,
                 CAST(tk AS DOUBLE) / CAST(tn AS DOUBLE) AS mu,
                 (spp - sp * sp / CAST(ng AS DOUBLE))
                 / greatest(CAST(ng AS DOUBLE) - 1.0, 1.0) AS s2
          FROM gg, pr),
    f2 AS (SELECT *, CASE WHEN ng > 1 AND s2 > 0
                          AND mu * (1.0 - mu) / greatest(s2, 1e-300) - 1.0 > 0
                     THEN round(mu * (1.0 - mu) / greatest(s2, 1e-300) - 1.0, 9) END AS m
           FROM f)
    SELECT grp AS "group", n, k,
           round(p, 6) AS rate_raw,
           round((CAST(k AS DOUBLE) + mu * m) / (CAST(n AS DOUBLE) + m), 6) AS rate_shrunk,
           round(m, 6) AS prior_strength
    FROM f2 ORDER BY "group"
    """,
)
def q245_eb_keep_rates(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage of per-source keep
    rates (word-count gate at 40) — the small-source fix for any
    per-domain quality leaderboard, method-of-moments prior fit on
    the G-row group table. See
    :func:`maston_spark.evaluation.eb_shrunk_rates`."""
    from maston_spark.evaluation import eb_shrunk_rates

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    wc = F.size(F.split(F.col("text"), " "))
    flagged = d.select(
        F.col("source"), (wc >= 40).cast("int").alias("y")
    )
    return eb_shrunk_rates(flagged, "source", "y")


@query(
    "q244_bloom_pruned_join",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(CAST(l_extendedprice AS DECIMAL(18,9))
                     * (1 - CAST(l_discount AS DECIMAL(18,9)))), 4) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q244_bloom_pruned_join(spark, sf_dir):
    """Urgent-order revenue through the Bloom-pruned join: the fact
    side is pre-filtered by a fixed-size Bloom filter of the
    selective dim's keys before the shuffle, and the ORACLE is the
    plain join — externally certifying the operator's zero-false-
    negative identity claim (the same graded-identity discipline as
    q207's salted join). See
    :func:`maston_spark.relational.bloom_pruned_join`."""
    from maston_spark.relational import bloom_pruned_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    joined = bloom_pruned_join(li, urgent, "l_orderkey", "o_orderkey")
    dec = "decimal(18,9)"
    # the oracle's DECIMAL reaches pandas as a double; a Spark Decimal
    # would stringify with trailing zeros ("...9520" vs "...952")
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast(dec)
                    * (F.lit(1) - F.col("l_discount").cast(dec))
                ),
                4,
            ).cast("double").alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q246_kaplan_meier",
    oracle="""
    WITH u AS (SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1,
                      max(ts) AS last_ts
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
               GROUP BY user_id),
    cut AS (SELECT max(last_ts) - INTERVAL 7 DAY AS co FROM u),
    subj AS (SELECT date_diff('day', d0, d1) AS t,
                    CASE WHEN last_ts <= co THEN 1 ELSE 0 END AS e
             FROM u, cut),
    per AS (SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
                   CAST(count(*) - sum(e) AS BIGINT) AS n_censored
            FROM subj GROUP BY t),
    tot AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n FROM per),
    r AS (SELECT t, n_events, n_censored,
                 CAST(n - COALESCE(sum(n_events + n_censored) OVER
                       (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n_risk
          FROM per, tot),
    lg AS (SELECT t, n_risk, n_events, n_censored,
                  CASE WHEN n_events < n_risk
                       THEN round(ln(1.0 - CAST(n_events AS DOUBLE)
                                          / CAST(n_risk AS DOUBLE)), 9) END AS l
           FROM r),
    s AS (SELECT t, n_risk, n_events, n_censored,
                 max(CASE WHEN l IS NULL THEN 1 ELSE 0 END) OVER
                   (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
                 sum(l) OVER
                   (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cl
          FROM lg)
    SELECT t, n_risk, n_events, n_censored,
           CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(cl), 6) END AS survival
    FROM s ORDER BY t
    """,
)
def q246_kaplan_meier(spark, sf_dir):
    """User-activity survival: per-user lifetime in days (first to
    last event), right-censored when the last event falls inside the
    final week of the observation window — the product-limit curve
    (Kaplan & Meier 1958) whose hazard conditions on the at-risk
    count, the number a naive churned-users mean cannot produce. See
    :func:`maston_spark.evaluation.kaplan_meier`."""
    from maston_spark.evaluation import kaplan_meier

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("__d0"),
        F.max(F.to_date("ts")).alias("__d1"),
        F.max("ts").alias("__last"),
    )
    cut = u.agg(
        (F.max("__last") - F.expr("INTERVAL 7 DAYS")).alias("__co")
    )
    subj = u.join(F.broadcast(cut)).select(
        F.datediff("__d1", "__d0").alias("dur"),
        (F.col("__last") <= F.col("__co")).cast("int").alias("evt"),
    )
    return kaplan_meier(subj, "dur", "evt")


@query(
    "q247_psi_drift",
    oracle="""
    WITH ref AS (SELECT CAST(value AS DOUBLE) AS v FROM events
                 WHERE value IS NOT NULL AND ts < TIMESTAMP '2024-01-15'),
    cur AS (SELECT CAST(value AS DOUBLE) AS v FROM events
            WHERE value IS NOT NULL AND ts >= TIMESTAMP '2024-01-15'),
    e AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs FROM ref),
    rb AS (SELECT CAST(len(list_filter(qs, q -> v > q)) AS INT) AS bin FROM ref, e),
    cb AS (SELECT CAST(len(list_filter(qs, q -> v > q)) AS INT) AS bin FROM cur, e),
    rc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_ref FROM rb GROUP BY bin),
    cc AS (SELECT bin, CAST(count(*) AS BIGINT) AS n_cur FROM cb GROUP BY bin),
    grid AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
    f AS (SELECT grid.bin, COALESCE(rc.n_ref, 0) AS n_ref, COALESCE(cc.n_cur, 0) AS n_cur
          FROM grid LEFT JOIN rc ON rc.bin = grid.bin LEFT JOIN cc ON cc.bin = grid.bin),
    t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr, CAST(sum(n_cur) AS BIGINT) AS tc FROM f),
    terms AS (SELECT bin, n_ref, n_cur,
                     CAST(n_ref + 1 AS DOUBLE) / CAST(tr + 10 AS DOUBLE) AS p,
                     CAST(n_cur + 1 AS DOUBLE) / CAST(tc + 10 AS DOUBLE) AS q
              FROM f, t),
    per AS (SELECT bin, n_ref, n_cur,
                   round(p, 6) AS p_ref, round(q, 6) AS p_cur,
                   round((p - q) * ln(p / q), 9) AS psi_term
            FROM terms),
    tp AS (SELECT round(CAST(sum(CAST(psi_term AS DECIMAL(28,9))) AS DOUBLE), 6) AS psi
           FROM per)
    SELECT bin, n_ref, n_cur, p_ref, p_cur, psi_term, psi
    FROM per, tp ORDER BY bin
    """,
)
def q247_psi_drift(spark, sf_dir):
    """Population Stability Index of the event-value distribution
    across the mid-month split, binned on the BEFORE-period deciles
    with Laplace-smoothed exact-rational proportions — the
    log-ratio drift lens next to q178's KS and q194's TVD. See
    :func:`maston_spark.profiling.psi_drift`."""
    from maston_spark.profiling import psi_drift

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ref = ev.filter(F.col("ts") < "2024-01-15").select("value")
    cur = ev.filter(F.col("ts") >= "2024-01-15").select("value")
    return psi_drift(ref, cur, "value", n_bins=10)


@query(
    "q248_mutual_information",
    oracle="""
    WITH cells AS (SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS n
                   FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
                   GROUP BY lang, source),
    m AS (SELECT a, b, n,
                 sum(n) OVER (PARTITION BY a) AS na,
                 sum(n) OVER (PARTITION BY b) AS nb
          FROM cells),
    agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   sum(CAST(round(CAST(n AS DOUBLE)
                                  * ln(CAST(n AS DOUBLE)
                                       / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
                            AS DECIMAL(28,9))) AS smi
            FROM m),
    ha AS (SELECT sum(CAST(round(CAST(na AS DOUBLE) * ln(CAST(na AS DOUBLE)), 6)
                           AS DECIMAL(28,9))) AS sa
           FROM (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a)),
    hb AS (SELECT sum(CAST(round(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE)), 6)
                           AS DECIMAL(28,9))) AS sb
           FROM (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b))
    , staged AS (
      SELECT nn AS n_rows,
             round(ln(CAST(nn AS DOUBLE)) - CAST(sa AS DOUBLE) / nn, 6) AS h_a,
             round(ln(CAST(nn AS DOUBLE)) - CAST(sb AS DOUBLE) / nn, 6) AS h_b,
             round(CAST(smi AS DOUBLE) / nn + ln(CAST(nn AS DOUBLE)), 6) AS mi
      FROM agg, ha, hb)
    SELECT n_rows, h_a, h_b, mi,
           CASE WHEN least(h_a, h_b) > 0
                THEN round(mi / least(h_a, h_b), 6) END AS nmi
    FROM staged
    """,
)
def q248_mutual_information(spark, sf_dir):
    """Mutual information between document language and source (with
    entropies and min-normalized NMI) — how many nats one column
    carries about the other; the dependence STRENGTH beside q130's
    chi-square dependence TEST. See
    :func:`maston_spark.profiling.mutual_information`."""
    from maston_spark.profiling import mutual_information

    d = load_table(spark, sf_dir, "documents").select("lang", "source")
    return mutual_information(d, "lang", "source")


@query(
    "q249_quantile_treatment",
    oracle="""
    WITH u AS (SELECT CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                      % 2 AS INT) AS variant,
                      CAST(value AS DOUBLE) AS v
               FROM events WHERE value IS NOT NULL),
    p AS (SELECT variant, CAST(count(*) AS BIGINT) AS n,
                 quantile_cont(v, 0.25) AS q25, quantile_cont(v, 0.5) AS q50,
                 quantile_cont(v, 0.75) AS q75, quantile_cont(v, 0.9) AS q90
          FROM u GROUP BY variant)
    SELECT c.n AS n_ctrl, t.n AS n_treat,
           round(c.q25, 6) AS ctrl_p25, round(t.q25 - c.q25, 6) AS qte_p25,
           round(c.q50, 6) AS ctrl_p50, round(t.q50 - c.q50, 6) AS qte_p50,
           round(c.q75, 6) AS ctrl_p75, round(t.q75 - c.q75, 6) AS qte_p75,
           round(c.q90, 6) AS ctrl_p90, round(t.q90 - c.q90, 6) AS qte_p90
    FROM p t, p c WHERE t.variant = 1 AND c.variant = 0
    """,
)
def q249_quantile_treatment(spark, sf_dir):
    """Quantile treatment effects on the md5 cohorting q221/q236/q240
    share: per-arm EXACT percentiles (the value-histogram order
    statistics of q15) differenced at p25/p50/p75/p90 — where in the
    distribution the treatment moved mass, which a mean readout
    hides. Composition of :func:`maston_spark.relational.
    exact_percentiles` over the variant group."""
    from maston_spark.relational import exact_percentiles

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    u = ev.select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        .cast("int")
        .alias("variant"),
        F.col("value").cast("double").alias("v"),
    )
    cnt = u.groupBy("variant").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pct = exact_percentiles(
        u, "variant", "v", [0.25, 0.5, 0.75, 0.9], ["q25", "q50", "q75", "q90"]
    ).join(cnt, "variant")
    t = pct.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_treat"),
        *[F.col(q).alias(f"t_{q}") for q in ("q25", "q50", "q75", "q90")],
    )
    c = pct.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_ctrl"),
        *[F.col(q).alias(f"c_{q}") for q in ("q25", "q50", "q75", "q90")],
    )
    j = t.join(F.broadcast(c))
    cols = [F.col("n_ctrl"), F.col("n_treat")]
    for q, nm in (("q25", "p25"), ("q50", "p50"), ("q75", "p75"), ("q90", "p90")):
        cols.append(F.round(F.col(f"c_{q}"), 6).alias(f"ctrl_{nm}"))
        cols.append(F.round(F.col(f"t_{q}") - F.col(f"c_{q}"), 6).alias(f"qte_{nm}"))
    return j.select(*cols)


@query(
    "q250_srm_prefix",
    oracle="""
    WITH u AS (SELECT CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                      % 2 AS INT) AS variant
               FROM events),
    o AS (SELECT CAST(variant AS VARCHAR) AS variant,
                 CAST(count(*) AS BIGINT) AS n_obs FROM u GROUP BY variant),
    t AS (SELECT CAST(sum(n_obs) AS DOUBLE) AS n FROM o),
    p AS (SELECT variant, n_obs, CAST(0.5 AS DOUBLE) AS expected_share,
                 round(0.5 * n, 6) AS n_exp,
                 round((CAST(n_obs AS DOUBLE) - 0.5 * n)
                       * (CAST(n_obs AS DOUBLE) - 0.5 * n) / (0.5 * n), 9) AS c
          FROM o, t),
    c2 AS (SELECT round(sum(c), 6) AS chi2 FROM p)
    SELECT variant, n_obs, expected_share, n_exp, chi2,
           chi2 > 10.827566170662733 AS srm_detected
    FROM p, c2 ORDER BY variant
    """,
)
def q250_srm_prefix(spark, sf_dir):
    """The SRM monitor TOPOLOGY's fold identity, graded cross-engine:
    events split into 3 deterministic micro-batches (event_id mod 3),
    each batch's arm counts folded with the SAME additive
    :func:`maston_spark.sketches.sum_counts` the streaming topology
    calls, then the shared
    :func:`maston_spark.evaluation.srm_from_counts` closing math —
    while the oracle chi-squares the whole history in one shot.
    Sum-of-counts ≡ counts-of-union exactly; extends the
    topology-twin matrix (q195/q200/q201/q211/q231) to the
    experimentation family."""
    from maston_spark.evaluation import srm_from_counts
    from maston_spark.sketches import sum_counts

    ev = load_table(spark, sf_dir, "events").select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        )
        .cast("string")
        .alias("variant"),
        "event_id",
    )
    counts = None
    for b in range(3):
        g = (
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b)
            .groupBy("variant")
            .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
        )
        counts = sum_counts(g, counts, ["variant"], ["n_obs"])
    return srm_from_counts(counts, {"0": 0.5, "1": 0.5})


@query(
    "q252_proportion_shift",
    oracle="""
    WITH e AS (SELECT event_type AS grp,
                      CASE WHEN ts >= TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END AS s,
                      CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
               FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    a AS (SELECT grp,
                 CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_0,
                 CAST(sum(CASE WHEN s = 0 THEN y ELSE 0 END) AS BIGINT) AS k_0,
                 CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_1,
                 CAST(sum(CASE WHEN s = 1 THEN y ELSE 0 END) AS BIGINT) AS k_1
          FROM e GROUP BY grp),
    f AS (SELECT *,
                 CAST(k_0 AS DOUBLE) / n_0 AS p0,
                 CAST(k_1 AS DOUBLE) / n_1 AS p1,
                 CAST(k_0 + k_1 AS DOUBLE) / CAST(n_0 + n_1 AS DOUBLE) AS pp
          FROM a),
    zt AS (SELECT *,
                  CASE WHEN n_0 > 0 AND n_1 > 0 AND pp > 0 AND pp < 1
                       THEN round((p1 - p0) / sqrt(pp * (1.0 - pp)
                                  * (1.0 / n_0 + 1.0 / n_1)), 6) END AS z
           FROM f)
    SELECT grp AS "group", n_0, k_0, n_1, k_1,
           CASE WHEN n_0 > 0 THEN round(p0, 6) END AS p_0,
           CASE WHEN n_1 > 0 THEN round(p1, 6) END AS p_1,
           z,
           COALESCE(abs(z) > 1.959963984540054, FALSE) AS significant_95,
           COALESCE(abs(z) > 3.2905267314919255, FALSE) AS significant_999
    FROM zt ORDER BY "group"
    """,
)
def q252_proportion_shift(spark, sf_dir):
    """Per-event-type pooled two-proportion z-test of the
    high-value rate (value > 50) across the mid-month split — the
    DIFFERENCE test beside q220's per-side Wilson intervals, normal
    quantiles embedded as literals. See
    :func:`maston_spark.evaluation.two_proportion_ztest`."""
    from maston_spark.evaluation import two_proportion_ztest

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    flagged = ev.select(
        F.col("event_type"),
        (F.col("ts") >= "2024-01-15").cast("int").alias("period"),
        (F.col("value") > 50).cast("int").alias("hi"),
    )
    return two_proportion_ztest(flagged, "event_type", "period", "hi")


@query(
    "q253_rbo_rankings",
    oracle="""
    WITH d AS (SELECT lang AS "group", doc_id,
                      ('0x' || substr(md5('c:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 1000 AS lc,
                      ('0x' || substr(md5('a:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 1000 AS la,
                      ('0x' || substr(md5('b:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        % 1000 AS lb
               FROM documents WHERE lang IS NOT NULL),
    ra AS (SELECT "group", doc_id,
                  row_number() OVER (PARTITION BY "group"
                                     ORDER BY 2 * lc + la DESC, doc_id) AS r
           FROM d),
    rb AS (SELECT "group", doc_id,
                  row_number() OVER (PARTITION BY "group"
                                     ORDER BY 2 * lc + lb DESC, doc_id) AS r
           FROM d),
    shared AS (SELECT ra."group", greatest(ra.r, rb.r) AS m
               FROM ra JOIN rb ON ra."group" = rb."group" AND ra.doc_id = rb.doc_id
               WHERE ra.r <= 20 AND rb.r <= 20),
    tw(m, c) AS (VALUES
      (1, 0.286289412790298), (2, 0.17244908679874527), (3, 0.12122094010254651),
      (4, 0.09048405208482725), (5, 0.06973665267286674), (6, 0.05479852509625519),
      (7, 0.04359492941379652), (8, 0.03495215560161411), (9, 0.028145971224520464),
      (10, 0.022701023722845555), (11, 0.01829061624648887), (12, 0.014682101038560675),
      (13, 0.011705075992019916), (14, 0.009231855184124517), (15, 0.007164949223240502),
      (16, 0.005428748216097931), (17, 0.003963828616321386), (18, 0.0027229555435694898),
      (19, 0.001668213431730377), (20, 0.0007689069995307129)),
    per AS (SELECT "group", CAST(count(*) AS BIGINT) AS overlap_at_k,
                   round(sum(round(c, 9)), 6) AS rbo_at_k
            FROM shared JOIN tw ON shared.m = tw.m GROUP BY "group"),
    gs AS (SELECT DISTINCT "group" FROM d)
    SELECT gs."group", COALESCE(overlap_at_k, 0) AS overlap_at_k,
           COALESCE(rbo_at_k, 0.0) AS rbo_at_k
    FROM gs LEFT JOIN per ON gs."group" = per."group"
    ORDER BY gs."group"
    """,
)
def q253_rbo_rankings(spark, sf_dir):
    """Rank-biased overlap @20 per language between two correlated
    deterministic scorers (a shared md5 component plus per-scorer
    noise — the 'new model vs old model' ranking-agreement audit),
    top-weighted by the standard p=0.9 geometric discounts embedded
    as literals in BOTH engines. See
    :func:`maston_spark.evaluation.rbo_at_k`."""
    from maston_spark.evaluation import rbo_at_k

    def lane(salt):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1000
        )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isNotNull()
    ).select(
        F.col("lang"),
        F.col("doc_id"),
        lane("c:").alias("__lc"),
        lane("a:").alias("__la"),
        lane("b:").alias("__lb"),
    )
    wa = Window.partitionBy("lang").orderBy(
        F.desc(F.lit(2) * F.col("__lc") + F.col("__la")), F.asc("doc_id")
    )
    wb = Window.partitionBy("lang").orderBy(
        F.desc(F.lit(2) * F.col("__lc") + F.col("__lb")), F.asc("doc_id")
    )
    ra = d.select("lang", "doc_id", F.row_number().over(wa).alias("r"))
    rb = d.select("lang", "doc_id", F.row_number().over(wb).alias("r"))
    return rbo_at_k(ra, rb, "lang", "doc_id", "r", k=20, p=0.9)


@query(
    "q254_conformal_interval",
    oracle="""
    WITH e AS (SELECT event_type, CAST(value AS DOUBLE) AS y,
                      ('0x' || substr(md5('cal:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                        % 2 AS sp
               FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    pm AS (SELECT event_type,
                  round(CAST(round(sum(CAST(y AS DECIMAL(18,9))), 9) AS DOUBLE)
                        / count(*), 6) AS pred
           FROM e WHERE sp = 0 GROUP BY event_type),
    calres AS (SELECT round(abs(y - pred), 9) AS r
               FROM e JOIN pm USING (event_type) WHERE sp = 0),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_cal FROM calres),
    rk AS (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM calres),
    qi AS (SELECT n_cal, CAST(ceil((n_cal + 1) * 0.9) AS BIGINT) AS q_index FROM n),
    qh AS (SELECT n_cal, q_index,
                  (SELECT r FROM rk WHERE rn = q_index) AS qhat
           FROM qi),
    ev AS (SELECT round(abs(y - pred), 9) AS r
           FROM e JOIN pm USING (event_type) WHERE sp = 1),
    cov AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
                   CASE WHEN max(qhat) IS NOT NULL THEN
                     round(CAST(sum(CASE WHEN r <= qhat THEN 1 ELSE 0 END) AS DOUBLE)
                           / count(*), 6) END AS empirical_coverage
            FROM ev, qh)
    SELECT n_cal, q_index, qhat,
           round(CAST(q_index AS DOUBLE) / (n_cal + 1), 6) AS guarantee,
           n_eval, empirical_coverage
    FROM qh, cov
    """,
)
def q254_conformal_interval(spark, sf_dir):
    """Split-conformal 90% prediction bound for event values around a
    per-type calibration-split mean predictor — the finite-sample,
    distribution-free ⌈(n+1)(1−α)⌉ order statistic (NOT an
    interpolated percentile), plus the exact empirical coverage on
    the held-out split. See
    :func:`maston_spark.evaluation.split_conformal_interval`."""
    from maston_spark.evaluation import split_conformal_interval

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    sp = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cal:"), F.col("event_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    base = ev.select(
        "event_type", F.col("value").cast("double").alias("y"), sp.alias("__sp")
    )
    dec = "decimal(18,9)"
    pred = (
        base.filter(F.col("__sp") == 0)
        .groupBy("event_type")
        .agg(
            F.round(
                F.round(F.sum(F.col("y").cast(dec)), 9).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("pred")
        )
    )
    withp = base.join(F.broadcast(pred), "event_type")
    cal = withp.filter(F.col("__sp") == 0)
    ev_split = withp.filter(F.col("__sp") == 1)
    return split_conformal_interval(cal, ev_split, "y", "pred", alpha=0.1)


@query(
    "q255_readability",
    oracle="""
    WITH d AS (SELECT source AS "group",
                      greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
                      len(string_split_regex(trim(text), '\\s+')) AS w,
                      len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
               FROM documents
               WHERE text IS NOT NULL AND length(trim(text)) > 0
                 AND source IS NOT NULL),
    a AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(s) AS BIGINT) AS n_sentences,
                 CAST(sum(w) AS BIGINT) AS n_words,
                 CAST(sum(y) AS BIGINT) AS n_syllables
          FROM d GROUP BY "group")
    SELECT "group", n_docs, n_sentences, n_words, n_syllables,
           round(CAST(n_words AS DOUBLE) / n_sentences, 6) AS words_per_sentence,
           round(CAST(n_syllables AS DOUBLE) / n_words, 6) AS syllables_per_word,
           CASE WHEN n_words > 0 THEN
             round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                   - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 6) END AS flesch
    FROM a ORDER BY "group"
    """,
)
def q255_readability(spark, sf_dir):
    """Flesch reading-ease per source from exact corpus totals —
    sentence/word/vowel-group counts off one regexp projection, the
    dictionary-free readability prior beside the Gopher gate. See
    :func:`maston_spark.llm.text.readability_scores`."""
    from maston_spark.llm.text import readability_scores

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    return readability_scores(d, "text", "source")


@query(
    "q256_logrank_test",
    oracle="""
    WITH u AS (SELECT user_id,
                      CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                           % 2 AS INT) AS g,
                      CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1,
                      max(ts) AS last_ts
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
               GROUP BY user_id),
    cut AS (SELECT max(last_ts) - INTERVAL 7 DAY AS co FROM u),
    subj AS (SELECT g, date_diff('day', d0, d1) AS t,
                    CASE WHEN last_ts <= co THEN 1 ELSE 0 END AS e
             FROM u, cut),
    per AS (SELECT t,
                   CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
                   CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
                   CAST(sum(CASE WHEN g = 1 THEN e ELSE 0 END) AS BIGINT) AS d1,
                   CAST(sum(CASE WHEN g = 0 THEN e ELSE 0 END) AS BIGINT) AS d0
            FROM subj GROUP BY t),
    tot AS (SELECT CAST(sum(a1) AS BIGINT) AS N1, CAST(sum(a0) AS BIGINT) AS N0 FROM per),
    r AS (SELECT t, d1, d0, N1, N0,
                 CAST(N1 - COALESCE(sum(a1) OVER
                      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n1,
                 CAST(N0 - COALESCE(sum(a0) OVER
                      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS n0
          FROM per, tot),
    terms AS (SELECT N1, N0, d1, d0,
                     round(CAST(d1 + d0 AS DOUBLE) * (CAST(n1 AS DOUBLE) / (n1 + n0)), 9) AS et,
                     round(CASE WHEN n1 + n0 > 1 THEN
                       CAST(d1 + d0 AS DOUBLE) * (CAST(n1 AS DOUBLE) / (n1 + n0))
                       * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n0))
                       * (CAST(n1 + n0 AS DOUBLE) - (d1 + d0)) / (CAST(n1 + n0 AS DOUBLE) - 1.0)
                     ELSE 0.0 END, 9) AS vt
              FROM r WHERE d1 + d0 > 0),
    core AS (SELECT CAST(sum(d1) AS BIGINT) AS o1s,
                    round(CAST(sum(CAST(et AS DECIMAL(28,9))) AS DOUBLE), 6) AS e1s,
                    round(CAST(sum(CAST(vt AS DECIMAL(28,9))) AS DOUBLE), 6) AS vs
             FROM terms),
    a AS (SELECT CAST(N1 AS BIGINT) AS n_1, CAST(N0 AS BIGINT) AS n_0,
                 COALESCE(o1s, 0) AS o_1,
                 COALESCE(e1s, 0.0) AS e_1,
                 COALESCE(vs, 0.0) AS v
          FROM core, tot)
    SELECT n_0, n_1, o_1, e_1, v,
           CASE WHEN v > 0 THEN
             round((CAST(o_1 AS DOUBLE) - e_1) * (CAST(o_1 AS DOUBLE) - e_1) / v, 6)
           END AS chi2,
           COALESCE((CAST(o_1 AS DOUBLE) - e_1) * (CAST(o_1 AS DOUBLE) - e_1) / v
                    > 3.841458820694124 AND v > 0, FALSE) AS significant_95,
           COALESCE((CAST(o_1 AS DOUBLE) - e_1) * (CAST(o_1 AS DOUBLE) - e_1) / v
                    > 10.827566170662733 AND v > 0, FALSE) AS significant_999
    FROM a
    """,
)
def q256_logrank_test(spark, sf_dir):
    """Log-rank comparison of user-lifetime survival between the two
    md5 experiment cohorts (the q246 construction split by the
    q221/q240 assignment) — censoring-correct two-sample inference
    the t-test on observed lifetimes cannot give. See
    :func:`maston_spark.evaluation.logrank_test`."""
    from maston_spark.evaluation import logrank_test

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("__d0"),
        F.max(F.to_date("ts")).alias("__d1"),
        F.max("ts").alias("__last"),
    )
    g = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    ).cast("int")
    cut = u.agg((F.max("__last") - F.expr("INTERVAL 7 DAYS")).alias("__co"))
    subj = u.join(F.broadcast(cut)).select(
        g.alias("grp"),
        F.datediff("__d1", "__d0").alias("dur"),
        (F.col("__last") <= F.col("__co")).cast("int").alias("evt"),
    )
    return logrank_test(subj, "grp", "dur", "evt")


@query(
    "q258_brier_decomposition",
    oracle="""
    WITH m AS (SELECT max(value) AS vmax
               FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    e AS (SELECT value / vmax AS sr,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events, m
          WHERE value IS NOT NULL AND event_type IS NOT NULL),
    f AS (SELECT round(sr, 9) AS s, y,
                 least(CAST(floor(sr * 10) AS INT), 9) AS b
          FROM e WHERE sr >= 0 AND sr <= 1),
    per AS (SELECT b, CAST(count(*) AS BIGINT) AS nk,
                   CAST(sum(y) AS BIGINT) AS syk,
                   sum(CAST(s AS DECIMAL(19,9))) AS ssk,
                   sum(CAST(CAST(round((s - y) * 1e9) AS BIGINT)
                            * CAST(round((s - y) * 1e9) AS BIGINT) AS HUGEINT)) AS sqk
            FROM f GROUP BY b),
    tot AS (SELECT CAST(sum(nk) AS BIGINT) AS n, CAST(sum(syk) AS BIGINT) AS sy,
                   sum(sqk) AS sq
            FROM per),
    terms AS (SELECT n, sy, sq,
                     round(CAST(nk AS DOUBLE)
                           * (CAST(ssk AS DOUBLE) / nk - CAST(syk AS DOUBLE) / nk)
                           * (CAST(ssk AS DOUBLE) / nk - CAST(syk AS DOUBLE) / nk), 9) AS rel_t,
                     round(CAST(nk AS DOUBLE)
                           * (CAST(syk AS DOUBLE) / nk - CAST(sy AS DOUBLE) / n)
                           * (CAST(syk AS DOUBLE) / nk - CAST(sy AS DOUBLE) / n), 9) AS res_t
              FROM per, tot),
    a AS (SELECT n, sy, sq,
                 sum(CAST(rel_t AS DECIMAL(28,9))) AS rels,
                 sum(CAST(res_t AS DECIMAL(28,9))) AS ress
          FROM terms GROUP BY n, sy, sq)
    SELECT n AS n_rows,
           round(CAST(sq AS DOUBLE) / (CAST(n AS DOUBLE) * 1e18), 6) AS brier,
           round(CAST(rels AS DOUBLE) / n, 6) AS reliability,
           round(CAST(ress AS DOUBLE) / n, 6) AS resolution,
           round((CAST(sy AS DOUBLE) / n) * (1.0 - CAST(sy AS DOUBLE) / n), 6) AS uncertainty,
           round(CAST(rels AS DOUBLE) / n - CAST(ress AS DOUBLE) / n
                 + (CAST(sy AS DOUBLE) / n) * (1.0 - CAST(sy AS DOUBLE) / n), 6)
             AS brier_decomposed
    FROM a
    """,
)
def q258_brier_decomposition(spark, sf_dir):
    """Brier score + Murphy reliability/resolution/uncertainty of the
    max-normalized value score against the purchase label (q213's
    construction) — the scalar decomposition behind the reliability
    diagram: is the scorer miscalibrated, or just uninformative? See
    :func:`maston_spark.evaluation.brier_decomposition`."""
    from maston_spark.evaluation import brier_decomposition

    # event_type IS NOT NULL on BOTH sides: Spark's boolean-cast label
    # is NULL for a NULL event_type (row dropped by the label filter)
    # while the oracle's CASE would map it to 0 and keep it
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    vmax = ev.agg(F.max("value").alias("__vmax"))
    scored = ev.crossJoin(F.broadcast(vmax)).select(
        (F.col("value") / F.col("__vmax")).alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return brier_decomposition(scored, "s", "y", n_bins=10)


# ------------------------------------------- round-13 inference battery


@query(
    "q259_mann_whitney",
    oracle="""
    WITH b AS (SELECT CAST(round(round(value, 6) * 1000000) AS BIGINT) AS v,
                      CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                           % 2 AS INT) AS g
               FROM events WHERE value IS NOT NULL),
    h AS (SELECT v, CAST(count(*) AS BIGINT) AS c, CAST(sum(g) AS BIGINT) AS c1
          FROM b GROUP BY v),
    s AS (SELECT c, c1,
                 CAST(coalesce(sum(c) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cp
          FROM h),
    a AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(c1) AS BIGINT) AS n1,
                 sum(CAST(c1 AS HUGEINT) * (2 * cp + c + 1)) AS r2,
                 sum(CAST(c AS HUGEINT) * c * c - c) AS tt
          FROM s),
    f AS (SELECT n, n1, CAST(n AS DOUBLE) AS nd, CAST(n1 AS DOUBLE) AS n1d,
                 CAST(n - n1 AS DOUBLE) AS n0d,
                 CAST(r2 AS DOUBLE) AS r2d, CAST(tt AS DOUBLE) AS ttd
          FROM a),
    g AS (SELECT n, n1, nd, n1d, n0d,
                 r2d - n1d * (n1d + 1.0) AS u2,
                 n0d * n1d / 12.0 * ((nd + 1.0) - ttd / (nd * (nd - 1.0))) AS var
          FROM f)
    SELECT n - n1 AS n_0, n1 AS n_1,
           round(u2 / 2.0, 6) AS u_1,
           round(u2 / (2.0 * n0d * n1d), 6) AS auc_1,
           CASE WHEN var > 0
                THEN round((u2 - n0d * n1d) / (2.0 * sqrt(var)), 6) END AS z
    FROM g
    """,
)
def q259_mann_whitney(spark, sf_dir):
    """Mann-Whitney rank-sum test of the event value across the md5
    experiment cohorts (q221/q240's assignment): the nonparametric
    location readout with midrank tie correction — U, the
    probability-of-superiority AUC, and the tie-corrected z, all
    from ONE value-histogram aggregation (never a per-row rank
    window or an n₊·n₋ pair join). See
    :func:`maston_spark.evaluation.mann_whitney_u`."""
    from maston_spark.evaluation import mann_whitney_u

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cohort = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    ).cast("int")
    return mann_whitney_u(ev.select(cohort.alias("g"), "value"), "g", "value")


@query(
    "q260_welch_ttest",
    oracle="""
    WITH b AS (SELECT CAST(round(round(value, 6) * 1000000) AS BIGINT) AS x,
                      CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                           % 2 AS INT) AS g
               FROM events WHERE value IS NOT NULL),
    p AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS s,
                 sum(CAST(x * x AS HUGEINT)) AS ss
          FROM b GROUP BY g),
    a AS (SELECT CAST(sum(CASE WHEN g = 0 THEN n END) AS BIGINT) AS n_0,
                 CAST(sum(CASE WHEN g = 1 THEN n END) AS BIGINT) AS n_1,
                 CAST(sum(CASE WHEN g = 0 THEN s END) AS DOUBLE) AS s0,
                 CAST(sum(CASE WHEN g = 1 THEN s END) AS DOUBLE) AS s1,
                 CAST(sum(CASE WHEN g = 0 THEN ss END) AS DOUBLE) AS ss0,
                 CAST(sum(CASE WHEN g = 1 THEN ss END) AS DOUBLE) AS ss1
          FROM p),
    c AS (SELECT n_0, n_1, CAST(n_0 AS DOUBLE) AS n0, CAST(n_1 AS DOUBLE) AS n1,
                 s0, s1, ss0, ss1 FROM a),
    d AS (SELECT n_0, n_1, n0, n1,
                 s0 / n0 / 1e6 AS m0, s1 / n1 / 1e6 AS m1,
                 (n0 * ss0 - s0 * s0) / (n0 * (n0 - 1.0)) / 1e12 AS v0,
                 (n1 * ss1 - s1 * s1) / (n1 * (n1 - 1.0)) / 1e12 AS v1
          FROM c),
    e AS (SELECT n_0, n_1, n0, n1, m0, m1, v0, v1,
                 v0 / n0 + v1 / n1 AS se2 FROM d)
    SELECT n_0, n_1, round(m0, 6) AS mean_0, round(m1, 6) AS mean_1,
           CASE WHEN n_0 >= 2 AND n_1 >= 2 AND se2 > 0
                THEN round((m1 - m0) / sqrt(se2), 6) END AS t_stat,
           CASE WHEN n_0 >= 2 AND n_1 >= 2 AND se2 > 0
                THEN round((se2 * se2)
                           / ((v0 / n0) * (v0 / n0) / (n0 - 1.0)
                              + (v1 / n1) * (v1 / n1) / (n1 - 1.0)), 6) END
             AS df_welch
    FROM e
    """,
)
def q260_welch_ttest(spark, sf_dir):
    """Welch's unequal-variance t test of the event value across the
    md5 cohorts — the moment-form companion to q259's rank form,
    with Satterthwaite degrees of freedom; integer 1e6-lane folds,
    one fixed-IEEE close. See
    :func:`maston_spark.evaluation.welch_ttest`."""
    from maston_spark.evaluation import welch_ttest

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cohort = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    ).cast("int")
    return welch_ttest(ev.select(cohort.alias("g"), "value"), "g", "value")


@query(
    "q261_anova_f",
    oracle="""
    WITH b AS (SELECT event_type AS g,
                      CAST(round(round(value, 6) * 1000000) AS BIGINT) AS x
               FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    p AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS s,
                 sum(CAST(x * x AS HUGEINT)) AS ss
          FROM b GROUP BY g),
    a AS (SELECT CAST(count(*) AS BIGINT) AS k_groups,
                 CAST(sum(n) AS BIGINT) AS n_rows,
                 CAST(sum(s) AS DOUBLE) AS st,
                 CAST(sum(ss) AS DOUBLE) AS sst,
                 CAST(sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                     / CAST(n AS DOUBLE) / 1e12, 9)
                               AS DECIMAL(28,9))) AS DOUBLE) AS gsum
          FROM p)
    SELECT k_groups, n_rows,
           round(gsum - st * st / CAST(n_rows AS DOUBLE) / 1e12, 6) AS ss_between,
           round(sst / 1e12 - gsum, 6) AS ss_within,
           CASE WHEN k_groups >= 2 AND n_rows > k_groups
                     AND sst / 1e12 - gsum > 0
                THEN round(((gsum - st * st / CAST(n_rows AS DOUBLE) / 1e12)
                            / (CAST(k_groups AS DOUBLE) - 1.0))
                           / ((sst / 1e12 - gsum)
                              / (CAST(n_rows AS DOUBLE) - CAST(k_groups AS DOUBLE))),
                           6) END AS f_stat
    FROM a
    """,
)
def q261_anova_f(spark, sf_dir):
    """One-way ANOVA F of the event value across event types — the
    k-arm mean-difference gate run before any pairwise readout;
    integer lanes per group, 9-grid group terms summed over the
    bounded |groups| frame. See
    :func:`maston_spark.evaluation.anova_oneway`."""
    from maston_spark.evaluation import anova_oneway

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    return anova_oneway(ev.select("event_type", "value"), "event_type", "value")


@query(
    "q262_mantel_haenszel",
    oracle="""
    WITH b AS (SELECT event_type AS s,
                      CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                           % 2 AS INT) AS g,
                      CASE WHEN value > 50 THEN 1 ELSE 0 END AS y
               FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    p AS (SELECT s,
                 CAST(sum(CASE WHEN g = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
                 CAST(sum(CASE WHEN g = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS bb,
                 CAST(sum(CASE WHEN g = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
                 CAST(sum(CASE WHEN g = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM b GROUP BY s),
    t AS (SELECT a, bb, c, d,
                 CAST(a + bb + c + d AS DOUBLE) AS nd,
                 CAST(a AS DOUBLE) AS ad, CAST(bb AS DOUBLE) AS bd,
                 CAST(c AS DOUBLE) AS cd, CAST(d AS DOUBLE) AS dd
          FROM p),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata,
                   CAST(sum(a + bb + c + d) AS BIGINT) AS n_rows,
                   CAST(sum(a) AS BIGINT) AS sa,
                   CAST(sum(CAST(round(ad * dd / nd, 9) AS DECIMAL(28,9))) AS DOUBLE) AS adn,
                   CAST(sum(CAST(round(bd * cd / nd, 9) AS DECIMAL(28,9))) AS DOUBLE) AS bcn,
                   CAST(sum(CAST(round((ad + bd) * (ad + cd) / nd, 9) AS DECIMAL(28,9))) AS DOUBLE) AS e,
                   CAST(sum(CAST(round((ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)
                                       / (nd * nd * (nd - 1.0)), 9)
                                 AS DECIMAL(28,9))) AS DOUBLE) AS v
            FROM t)
    SELECT n_strata, n_rows,
           CASE WHEN bcn > 0 THEN round(adn / bcn, 6) END AS or_mh,
           CASE WHEN v > 0
                THEN round((CAST(sa AS DOUBLE) - e) * (CAST(sa AS DOUBLE) - e) / v, 6)
           END AS chi2_cmh,
           coalesce(CASE WHEN v > 0
                    THEN (round((CAST(sa AS DOUBLE) - e) * (CAST(sa AS DOUBLE) - e) / v, 6)
                          > 3.841458820694124) END, FALSE) AS significant_95
    FROM agg
    """,
)
def q262_mantel_haenszel(spark, sf_dir):
    """Mantel-Haenszel common odds ratio + CMH chi-square of
    (md5 cohort × value>50) stratified BY EVENT TYPE — the
    confounder-adjusted 2×2 readout that a pooled table would
    Simpson-flip when arms are imbalanced across surfaces. See
    :func:`maston_spark.evaluation.mantel_haenszel`."""
    from maston_spark.evaluation import mantel_haenszel

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    cohort = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    ).cast("int")
    subj = ev.select(
        F.col("event_type").alias("stratum"),
        cohort.alias("g"),
        (F.col("value") > 50).cast("int").alias("y"),
    )
    return mantel_haenszel(subj, "stratum", "g", "y")


@query(
    "q263_cochran_armitage",
    oracle="""
    WITH b AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS s,
                      CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS y
               FROM orders
               WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL),
    p AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS a
          FROM b GROUP BY s),
    agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(a) AS BIGINT) AS aa,
                   CAST(count(*) AS BIGINT) AS n_levels,
                   sum(CAST(s * a AS HUGEINT)) AS sa,
                   sum(CAST(s * n AS HUGEINT)) AS sn,
                   sum(CAST(s * s * n AS HUGEINT)) AS ssn
            FROM p),
    f AS (SELECT nn, aa, n_levels,
                 CAST(nn AS HUGEINT) * sa - CAST(aa AS HUGEINT) * sn AS num_i,
                 CAST(aa AS HUGEINT) * (nn - aa) AS den_a,
                 CAST(nn AS HUGEINT) * ssn - sn * sn AS den_b
          FROM agg),
    g AS (SELECT nn, aa, n_levels, num_i,
                 CAST(den_a AS DOUBLE) AS dad, CAST(den_b AS DOUBLE) AS dbd,
                 CAST(nn AS DOUBLE) * CAST(num_i AS DOUBLE) * CAST(num_i AS DOUBLE)
                   / (CAST(den_a AS DOUBLE) * CAST(den_b AS DOUBLE)) AS chi2
          FROM f)
    SELECT nn AS n_rows, aa AS n_pos, n_levels,
           CASE WHEN dad > 0 AND dbd > 0
                THEN round(CASE WHEN num_i < 0 THEN -sqrt(chi2)
                                ELSE sqrt(chi2) END, 6) END AS z_trend,
           CASE WHEN dad > 0 AND dbd > 0 THEN round(chi2, 6) END AS chi2_trend
    FROM g
    """,
)
def q263_cochran_armitage(spark, sf_dir):
    """Cochran-Armitage trend test: is the high-value-order rate
    (totalprice > 100k) MONOTONE in the order-priority tier (scores
    1-URGENT … 5-LOW)? The chi-square-for-trend assembled entirely
    from integer cross-multiplications. See
    :func:`maston_spark.evaluation.cochran_armitage`."""
    from maston_spark.evaluation import cochran_armitage

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    subj = o.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("score"),
        (F.col("o_totalprice") > 100000).cast("int").alias("y"),
    )
    return cochran_armitage(subj, "score", "y")


@query(
    "q264_bh_fdr",
    oracle="""
    WITH b AS (SELECT doc_id,
                      ('0x' || substr(md5('bh:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                        AS lane
               FROM documents),
    r AS (SELECT doc_id, lane,
                 row_number() OVER (ORDER BY lane, doc_id) AS rk,
                 count(*) OVER () AS m
          FROM b),
    k AS (SELECT coalesce(max(CASE WHEN CAST(lane AS HUGEINT) * 20 * m
                                        <= CAST(rk AS HUGEINT) * 1 * 4294967296
                                   THEN rk END), 0) AS kstar
          FROM r)
    SELECT doc_id, round(lane / 4294967296.0, 9) AS p_value,
           rk AS rank,
           round(CAST(rk AS DOUBLE) * 1.0 / 20.0 / CAST(m AS DOUBLE), 9)
             AS bh_threshold,
           rk <= kstar AS rejected
    FROM r, k ORDER BY rank
    """,
)
def q264_bh_fdr(spark, sf_dir):
    """Benjamini-Hochberg step-up FDR control over one deterministic
    md5-lane 'p-value' per document (the battery a per-segment
    metric sweep hands downstream) at α = 1/20 — the BH compare runs
    entirely in the integer domain and the ranking is the two-phase
    global rank, so m = 10⁹ hypotheses never meet a partition-less
    window. See :func:`maston_spark.evaluation.bh_fdr`."""
    from maston_spark.evaluation import bh_fdr

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bh:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("lane"),
    )
    return bh_fdr(d, "doc_id", "lane", alpha_num=1, alpha_den=20)


@query(
    "q265_kendall_tau",
    oracle="""
    WITH b AS (SELECT user_id AS g, event_id AS i,
                      CAST(round(round(value, 6) * 1000000) AS BIGINT) AS x,
                      CAST(round(round(CAST(epoch_ms(ts) AS DOUBLE), 6) * 1000000)
                           AS BIGINT) AS y
               FROM events
               WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL),
    cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY g
            HAVING count(*) >= 5),
    k AS (SELECT b.* FROM b JOIN cnt USING (g)),
    pairs AS (SELECT l.g,
                     CASE WHEN l.x < r.x THEN 1 WHEN l.x > r.x THEN -1 ELSE 0 END AS sx,
                     CASE WHEN l.y < r.y THEN 1 WHEN l.y > r.y THEN -1 ELSE 0 END AS sy
              FROM k l JOIN k r ON l.g = r.g AND l.i < r.i),
    per AS (SELECT g,
                   CAST(sum(CASE WHEN sx * sy = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
                   CAST(sum(CASE WHEN sx * sy = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant,
                   CAST(sum(CASE WHEN sx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
                   CAST(sum(CASE WHEN sy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
                   CAST(count(*) AS BIGINT) AS np
            FROM pairs GROUP BY g)
    SELECT per.g AS "group", cnt.n_rows, n_concordant, n_discordant,
           CASE WHEN np - tx > 0 AND np - ty > 0
                THEN round((CAST(n_concordant AS DOUBLE) - CAST(n_discordant AS DOUBLE))
                           / sqrt(CAST(np - tx AS DOUBLE) * CAST(np - ty AS DOUBLE)), 6)
           END AS tau_b
    FROM per JOIN cnt USING (g) ORDER BY "group"
    """,
)
def q265_kendall_tau(spark, sf_dir):
    """Kendall tau-b of (value, time) per user — is each user's event
    value TRENDING, judged pairwise (the pairwise rank-association
    member next to q218's Spearman): a bounded-entity all-pairs
    operator (per-user sequences, Σn_g²-bounded by contract, the
    q203 cost family). y is epoch milliseconds (exact integer lanes).
    See :func:`maston_spark.evaluation.kendall_tau`."""
    from maston_spark.evaluation import kendall_tau

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    subj = ev.select(
        "user_id",
        "event_id",
        "value",
        F.unix_millis(F.col("ts").cast("timestamp")).cast("double").alias("t_ms"),
    )
    return kendall_tau(subj, "user_id", "event_id", "value", "t_ms", min_rows=5)


@query(
    "q266_acf",
    oracle="""
    WITH d AS (SELECT event_type AS s, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS x
               FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
               GROUP BY event_type, CAST(ts AS DATE)),
    tot AS (SELECT s, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sm
            FROM d GROUP BY s),
    lagk AS (SELECT d.s, tot.n, tot.sm, d.x, k.k,
                    lead(d.x, CAST(k.k AS INT)) OVER
                      (PARTITION BY d.s, k.k ORDER BY d.day) AS xl
             FROM d JOIN tot USING (s),
                  (SELECT unnest(range(1, 8)) AS k) k),
    dev AS (SELECT s, n, k,
                   CAST(n AS HUGEINT) * x - sm AS dd,
                   CASE WHEN xl IS NULL THEN NULL
                        ELSE CAST(n AS HUGEINT) * xl - sm END AS dl
            FROM lagk),
    num AS (SELECT s, k, sum(dd * dl) AS num
            FROM dev WHERE dl IS NOT NULL GROUP BY s, k),
    den AS (SELECT s, sum(dd * dd) AS den
            FROM dev WHERE k = 1 GROUP BY s)
    SELECT num.s AS series, CAST(num.k AS INT) AS lag, tot.n AS n_obs,
           CASE WHEN CAST(den AS DOUBLE) > 0
                THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6)
           END AS acf
    FROM num JOIN den USING (s) JOIN tot USING (s)
    ORDER BY series, lag
    """,
)
def q266_acf(spark, sf_dir):
    """Autocorrelation of each event type's DAILY volume at lags 1–7
    — the weekly-rhythm fingerprint (a lag-7 spike = weekday
    seasonality), integer cross-products of n-scaled deviations, one
    closing division. See :func:`maston_spark.relational.acf`."""
    from maston_spark.relational import acf

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        F.col("event_type").alias("s"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    return acf(daily, "s", "day", "x", max_lag=7)


@query(
    "q267_seasonal_mase",
    oracle="""
    WITH d AS (SELECT event_type AS s, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS x
               FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
               GROUP BY event_type, CAST(ts AS DATE)),
    l AS (SELECT s, x,
                 lag(x, 1) OVER (PARTITION BY s ORDER BY day) AS p1,
                 lag(x, 7) OVER (PARTITION BY s ORDER BY day) AS ps
          FROM d),
    a AS (SELECT s, CAST(count(*) AS BIGINT) AS n_obs,
                 sum(CAST(abs(x - ps) AS HUGEINT)) AS es,
                 sum(CAST(abs(x - p1) AS HUGEINT)) AS e1
          FROM l GROUP BY s)
    SELECT s AS series, n_obs,
           CASE WHEN n_obs > 7
                THEN round(CAST(es AS DOUBLE) / CAST(n_obs - 7 AS DOUBLE), 6)
           END AS mae_seasonal,
           CASE WHEN n_obs > 1
                THEN round(CAST(e1 AS DOUBLE) / CAST(n_obs - 1 AS DOUBLE), 6)
           END AS mae_naive1,
           CASE WHEN n_obs > 7 AND e1 IS NOT NULL AND CAST(e1 AS DOUBLE) > 0
                THEN round(CAST(es * (n_obs - 1) AS DOUBLE)
                           / CAST((n_obs - 7) * e1 AS DOUBLE), 6)
           END AS mase
    FROM a ORDER BY series
    """,
)
def q267_seasonal_mase(spark, sf_dir):
    """Seasonal-naive (season 7) forecast error of each event type's
    daily volume, scaled as MASE against the naive-1 walk — is the
    weekly structure worth a forecaster? Integer |difference| sums,
    one exact cross-product close. See
    :func:`maston_spark.relational.seasonal_naive_mase`."""
    from maston_spark.relational import seasonal_naive_mase

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        F.col("event_type").alias("s"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    return seasonal_naive_mase(daily, "s", "day", "x", season=7)


@query(
    "q268_quantile_normalize",
    oracle="""
    WITH b AS (SELECT source AS g, doc_id AS i, n_chars AS v FROM documents
               WHERE n_chars IS NOT NULL AND source IS NOT NULL),
    rg AS (SELECT g, v, i, row_number() OVER (PARTITION BY g ORDER BY v, i) AS r
           FROM b),
    sz AS (SELECT g, CAST(max(r) AS BIGINT) AS ng FROM rg GROUP BY g),
    gl AS (SELECT v AS ref, row_number() OVER (ORDER BY v, g, i) AS grk FROM b),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM b),
    qq AS (SELECT unnest(range(1, 11)) AS q),
    picks AS (SELECT g, ng, q, (q * ng + 9) // 10 AS ri FROM sz, qq),
    pick2 AS (SELECT p.g, p.q, p.ng, rg.r
              FROM picks p JOIN rg ON p.g = rg.g AND p.ri = rg.r),
    tgt AS (SELECT g, q, ng, (r * nn + ng - 1) // ng AS ti FROM pick2, nt)
    SELECT tgt.g AS "group", CAST(q AS INT) AS quantile, ng AS n_rows,
           gl.ref AS norm_value
    FROM tgt JOIN gl ON tgt.ti = gl.grk
    ORDER BY "group", quantile
    """,
)
def q268_quantile_normalize(spark, sf_dir):
    """Quantile-normalize document length across sources: each doc's
    n_chars maps to the pooled-corpus order statistic at its
    within-source relative rank (type-1, integer-exact), reported at
    the per-source deciles — the batch-effect correction applied
    before one global length threshold gates every source. See
    :func:`maston_spark.relational.quantile_normalize`."""
    from maston_spark.relational import quantile_normalize

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars").isNotNull() & F.col("source").isNotNull()
    )
    return quantile_normalize(
        d.select("source", "doc_id", "n_chars"),
        "source",
        "doc_id",
        "n_chars",
        n_quantiles=10,
    )


@query(
    "q269_spatial_grid_join",
    oracle="""
    WITH p AS (SELECT c_custkey AS i,
                      ('0x' || substr(md5('px:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                        % 1048576 AS x,
                      ('0x' || substr(md5('py:' || CAST(c_custkey AS VARCHAR)), 1, 8))::BIGINT
                        % 1048576 AS y
               FROM customer),
    dxy AS (SELECT a.dx, b.dy
            FROM (SELECT unnest(range(-1, 2)) AS dx) a,
                 (SELECT unnest(range(-1, 2)) AS dy) b),
    stamped AS (SELECT p.i AS ia, p.x AS xa, p.y AS ya,
                       (p.x // 4096) + dx AS kx, (p.y // 4096) + dy AS ky
                FROM p, dxy),
    rgt AS (SELECT i AS ib, x AS xb, y AS yb,
                   x // 4096 AS kx, y // 4096 AS ky
            FROM p)
    SELECT ia AS id_a, ib AS id_b,
           (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) AS dist_sq
    FROM stamped JOIN rgt USING (kx, ky)
    WHERE ia < ib
      AND (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb) <= 4096 * 4096
    ORDER BY dist_sq, id_a, id_b
    LIMIT 100
    """,
)
def q269_spatial_grid_join(spark, sf_dir):
    """Grid-blocked spatial radius self-join: customers placed on a
    2²⁰×2²⁰ integer plane by md5 lanes, all pairs within radius 4096
    via 3×3-stamped cell blocking (each qualifying pair meets on
    exactly one key — the right point's own cell), exact int64
    distance compares, closest 100 pairs reported. Never all-pairs:
    candidates are bounded by local density (the spatial member of
    the bucketed-candidate family). See
    :func:`maston_spark.relational.grid_radius_join`."""
    from maston_spark.relational import grid_radius_join

    c = load_table(spark, sf_dir, "customer")

    def lane(prefix):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(prefix), F.col("c_custkey").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1048576
        )

    pts = c.select(
        F.col("c_custkey").alias("pid"),
        lane("px:").alias("x"),
        lane("py:").alias("y"),
    )
    return grid_radius_join(pts, "pid", "x", "y", radius=4096).limit(100)


@query(
    "q270_fd_profile",
    oracle="""
    WITH pairs AS (
      SELECT 'o_custkey' AS determinant, 'o_orderpriority' AS dependent,
             o_custkey AS k, o_orderpriority AS v
      FROM orders WHERE o_custkey IS NOT NULL
      UNION ALL
      SELECT 'o_orderkey', 'o_orderstatus', o_orderkey, o_orderstatus
      FROM orders WHERE o_orderkey IS NOT NULL
      UNION ALL
      SELECT 'o_orderpriority', 'o_orderstatus',
             CAST(substr(o_orderpriority, 1, 1) AS BIGINT), o_orderstatus
      FROM orders WHERE o_orderpriority IS NOT NULL),
    cells AS (SELECT determinant, dependent, k, v,
                     CAST(count(*) AS BIGINT) AS c
              FROM pairs GROUP BY determinant, dependent, k, v),
    per_k AS (SELECT determinant, dependent, k,
                     CAST(count(*) AS BIGINT) AS nv,
                     max(c) AS mx, CAST(sum(c) AS BIGINT) AS nk
              FROM cells GROUP BY determinant, dependent, k),
    agg AS (SELECT determinant, dependent,
                   CAST(sum(nk) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_det_values,
                   CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_violating,
                   CAST(sum(mx) AS BIGINT) AS keep
            FROM per_k GROUP BY determinant, dependent)
    SELECT determinant, dependent, n_rows, n_det_values, n_violating,
           round(CAST(n_violating AS DOUBLE) / CAST(n_det_values AS DOUBLE), 6)
             AS violation_rate,
           n_rows - keep AS repair_rows,
           round(CAST(keep AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS coverage
    FROM agg ORDER BY determinant, dependent
    """,
)
def q270_fd_profile(spark, sf_dir):
    """Functional-dependency profile over orders: does the customer
    determine the priority (no — measured violation rate), the order
    key the status (yes — a real FD), the priority the status (no)?
    Reports the exact minimum repair cost per candidate FD. The
    o_orderpriority determinant is its leading tier digit so the
    unioned determinant column types align. See
    :func:`maston_spark.profiling.fd_violations`."""
    from maston_spark.profiling import fd_violations

    o = load_table(spark, sf_dir, "orders")
    a = fd_violations(
        o.select(F.col("o_custkey").cast("long").alias("o_custkey"),
                 "o_orderpriority"),
        [("o_custkey", "o_orderpriority")],
    )
    b = fd_violations(
        o.select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                 "o_orderstatus"),
        [("o_orderkey", "o_orderstatus")],
    )
    c = fd_violations(
        o.select(
            F.substring("o_orderpriority", 1, 1)
            .cast("long")
            .alias("o_orderpriority"),
            "o_orderstatus",
        ),
        [("o_orderpriority", "o_orderstatus")],
    )
    return a.unionByName(b).unionByName(c).orderBy("determinant", "dependent")


@query(
    "q271_systematic_sample",
    oracle="""
    WITH h AS (SELECT doc_id,
                      ('0x' || substr(md5('sys:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                        AS hh
               FROM documents),
    r AS (SELECT doc_id, row_number() OVER (ORDER BY hh, doc_id) AS rank FROM h)
    SELECT doc_id, rank, ((rank - 1) // 37) + 1 AS sample_idx
    FROM r WHERE (rank - 1) % 37 = 0 ORDER BY rank
    """,
)
def q271_systematic_sample(spark, sf_dir):
    """Deterministic 1-in-37 systematic sample of the document corpus
    over an md5-permuted order (replayable exact-size sampling with
    zero coordination; two-phase global rank, no partition-less
    window). See :func:`maston_spark.llm.sampling.systematic_sample`."""
    from maston_spark.llm.sampling import systematic_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return systematic_sample(d, "doc_id", k=37, salt="sys")


@query(
    "q272_cusum_prefix",
    oracle="""
    WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bkt,
                      CAST(count(*) AS BIGINT) AS c
               FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2),
    w AS (SELECT event_type, bkt, c,
                 CAST(sum(c) OVER (PARTITION BY event_type ORDER BY bkt)
                      AS BIGINT) AS cum,
                 CAST(row_number() OVER (PARTITION BY event_type ORDER BY bkt)
                      AS BIGINT) AS idx
          FROM b),
    t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(sum(c) AS BIGINT) AS total_events
          FROM b GROUP BY 1),
    s AS (SELECT w.event_type, w.bkt, t.n_buckets, t.total_events,
                 t.n_buckets * w.cum - w.idx * t.total_events AS scaled
          FROM w JOIN t ON t.event_type = w.event_type),
    r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                     ORDER BY abs(scaled) DESC, bkt) AS rn
          FROM s)
    SELECT event_type AS "group", bkt AS changepoint_ts, n_buckets,
           total_events, CAST(scaled AS BIGINT) AS cusum_scaled,
           CAST(scaled AS DOUBLE) / n_buckets AS cusum
    FROM r WHERE rn = 1
    ORDER BY "group"
    """,
)
def q272_cusum_prefix(spark, sf_dir):
    """The CUSUM monitor TOPOLOGY's fold identity, graded
    cross-engine: events split into 3 deterministic micro-batches
    (event_id mod 3), each batch's (group, hour-bucket) counts
    folded with the SAME additive :func:`maston_spark.sketches.
    sum_counts` the streaming topology calls, then the shared
    :func:`maston_spark.relational.
    cusum_from_counts` closing math — while the oracle computes the
    changepoint over the whole history in one shot. Sum-of-bucket-
    counts ≡ counts-of-union exactly; extends the topology-twin
    matrix (q195/q200/q201/q211/q231/q250) to the rate-shift
    monitor, the seventh topology."""
    from maston_spark.relational import cusum_from_counts
    from maston_spark.sketches import sum_counts

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("event_type").alias("group"),
        F.date_trunc("hour", F.col("ts")).alias("__bkt"),
        "event_id",
    )
    counts = None
    for b in range(3):
        g = (
            ev.filter(F.pmod(F.col("event_id"), F.lit(3)) == b)
            .groupBy("group", "__bkt")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        counts = sum_counts(g, counts, ["group", "__bkt"], ["__c"])
    return cusum_from_counts(counts, "group").orderBy("group")


@query(
    "q283_vocab_saturation_prefix",
    oracle="""
    WITH toks AS (SELECT source AS g, unnest(string_split(text, ' ')) AS tok
                  FROM documents
                  WHERE text IS NOT NULL AND source IS NOT NULL),
    counts AS (SELECT g, tok, CAST(count(*) AS BIGINT) AS c
               FROM toks WHERE tok IS NOT NULL AND tok <> ''
               GROUP BY g, tok),
    a AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS v_observed,
                 CAST(coalesce(sum(CASE WHEN c = 1 THEN 1 END), 0) AS BIGINT)
                   AS n_singletons,
                 CAST(coalesce(sum(CASE WHEN c = 2 THEN 1 END), 0) AS BIGINT)
                   AS n_doubletons
          FROM counts GROUP BY g)
    SELECT g AS "group", n_tokens, v_observed, n_singletons, n_doubletons,
           round(CAST(v_observed AS DOUBLE)
                 + CAST(n_singletons AS DOUBLE)
                   * (CAST(n_singletons AS DOUBLE) - 1.0)
                   / (2.0 * (CAST(n_doubletons AS DOUBLE) + 1.0)), 4) AS chao1,
           round(CAST(n_singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS gt_unseen_mass,
           CASE WHEN n_singletons > 0
                THEN round(2.0 * CAST(n_doubletons AS DOUBLE)
                           / CAST(n_singletons AS DOUBLE), 6)
           END AS r1_adjusted
    FROM a ORDER BY "group"
    """,
)
def q283_vocab_saturation_prefix(spark, sf_dir):
    """The vocabulary-saturation monitor TOPOLOGY's fold identity,
    graded cross-engine: documents split into 3 deterministic
    micro-batches (doc_id mod 3), each batch's (source, token)
    counts folded with the SAME additive :func:`maston_spark.
    sketches.sum_counts` the streaming topology calls, then the
    shared :func:`maston_spark.llm.text.
    vocab_richness_from_counts` closing math — while the oracle
    computes Good-Turing + Chao1 over the whole corpus in one shot.
    Counts-of-union ≡ sum-of-batch-counts exactly (fof is NOT
    additive, which is exactly why the state holds token counts);
    extends the topology-twin matrix (q195/q200/q201/q211/q231/
    q250/q272) to the crawl-saturation gauge, the eighth topology."""
    from maston_spark.llm.text import vocab_richness_from_counts
    from maston_spark.sketches import sum_counts

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    )
    toks = d.select(
        F.col("source").alias("group"),
        F.col("doc_id"),
        F.explode(F.split(F.col("text"), " ")).alias("__tok"),
    ).filter(F.col("__tok").isNotNull() & (F.col("__tok") != ""))
    counts = None
    for b in range(3):
        g = (
            toks.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b)
            .groupBy("group", "__tok")
            .agg(F.count(F.lit(1)).cast("long").alias("__c"))
        )
        counts = sum_counts(g, counts, ["group", "__tok"], ["__c"])
    return vocab_richness_from_counts(counts, "group")


@query(
    "q273_assortativity",
    oracle="""
    WITH e0 AS (SELECT DISTINCT l_partkey AS a, 1000000000 + l_suppkey AS b
                FROM lineitem
                WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
    e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM e0 WHERE a <> b),
    deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
            GROUP BY n),
    sym AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
    p AS (SELECT du.d AS dx, dv.d AS dy
          FROM sym JOIN deg du ON sym.u = du.n JOIN deg dv ON sym.v = dv.n),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS m2,
                   sum(CAST(dx AS HUGEINT)) AS sx,
                   sum(CAST(dx * dy AS HUGEINT)) AS sxy,
                   sum(CAST(dx * dx AS HUGEINT)) AS sxx
            FROM p),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg)
    SELECT n_nodes, m2 // 2 AS n_edges,
           CASE WHEN CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                THEN round((CAST(m2 AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           / (CAST(m2 AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
           END AS r
    FROM agg, nv
    """,
)
def q273_assortativity(spark, sf_dir):
    """Degree assortativity of the part↔supplier supply graph
    (disjoint id spaces; Newman 2002 Pearson-over-edges): do
    high-degree parts source from high-degree suppliers? The
    structural fingerprint beside q172's transitivity. The raw
    lineitem pairs go in as they are: the operator's one least/greatest
    ``distinct`` drops repeated pairs and NULL endpoints. The
    symmetrized moments fold as exact integers, three from the degree
    table alone and Σxy from one edge ⋈ degree join, and close as one
    exact-rational quotient (the symmetric form needs NO sqrt). See
    :func:`maston_spark.graph.assortativity`."""
    from maston_spark.graph import assortativity

    li = load_table(spark, sf_dir, "lineitem")
    return assortativity(
        li.select(
            F.col("l_partkey").alias("id_a"),
            (F.lit(1000000000) + F.col("l_suppkey")).alias("id_b"),
        )
    )


@query(
    "q274_theil_sen",
    oracle="""
    WITH b AS (SELECT user_id AS g, event_id AS i,
                      CAST(round(round(CAST(epoch_ms(ts) // 3600000 AS DOUBLE), 6)
                                 * 1000000) AS BIGINT) AS x,
                      CAST(round(round(value, 6) * 1000000) AS BIGINT) AS y
               FROM events
               WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL),
    cnt AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY g
            HAVING count(*) >= 5),
    k AS (SELECT b.* FROM b JOIN cnt USING (g)),
    pairs AS (SELECT l.g, l.i AS i1, r.i AS i2,
                     CASE WHEN r.x - l.x < 0 THEN -(r.y - l.y)
                          ELSE r.y - l.y END AS p,
                     abs(r.x - l.x) AS q,
                     CAST(r.y - l.y AS DOUBLE) / CAST(r.x - l.x AS DOUBLE) AS s
              FROM k l JOIN k r ON l.g = r.g AND l.i < r.i AND l.x <> r.x),
    np AS (SELECT g, CAST(count(*) AS BIGINT) AS n_pairs FROM pairs GROUP BY g),
    med AS (SELECT p2.g, np.n_pairs, p2.s AS slope, p2.p, p2.q
            FROM (SELECT g, s, p, q, row_number() OVER
                    (PARTITION BY g ORDER BY s, i1, i2) AS rn FROM pairs) p2
            JOIN np ON p2.g = np.g AND p2.rn = (np.n_pairs + 1) // 2),
    res AS (SELECT k.g, med.n_pairs, med.slope, med.q, k.i,
                   CAST(med.q AS HUGEINT) * k.y
                     - CAST(med.p AS HUGEINT) * k.x AS rr
            FROM k JOIN med ON k.g = med.g),
    ic AS (SELECT r2.g, r2.n_pairs, r2.slope, r2.q, r2.rr
           FROM (SELECT g, n_pairs, slope, q, rr, row_number() OVER
                   (PARTITION BY g ORDER BY rr, i) AS rn FROM res) r2
           JOIN cnt ON r2.g = cnt.g AND r2.rn = (cnt.n_rows + 1) // 2)
    SELECT cnt.g AS "group", cnt.n_rows,
           coalesce(ic.n_pairs, 0) AS n_pairs,
           round(ic.slope, 6) AS slope,
           CAST(CASE WHEN ic.rr >= 0
                     THEN (2 * ic.rr + ic.q) // (2 * CAST(ic.q AS HUGEINT))
                     ELSE -((2 * (-ic.rr) + ic.q) // (2 * CAST(ic.q AS HUGEINT)))
                END AS DOUBLE) / 1e6 AS intercept
    FROM cnt LEFT JOIN ic ON ic.g = cnt.g ORDER BY "group"
    """,
)
def q274_theil_sen(spark, sf_dir):
    """Theil-Sen robust value trend per user (slope per HOUR over the
    event sequence): the median-of-pairwise-slopes estimate one
    outlier event can't drag, beside q265's tau (is there a trend?)
    and q133's least squares (how steep, if clean?). Bounded-entity
    all-pairs contract; type-1 medians — never a midpoint average.
    See :func:`maston_spark.relational.theil_sen_slope`."""
    from maston_spark.relational import theil_sen_slope

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    )
    subj = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_millis(CAST(ts AS TIMESTAMP)) div 3600000")
        .cast("double")
        .alias("t_hours"),
        "value",
    )
    return theil_sen_slope(
        subj, "user_id", "event_id", "t_hours", "value", min_rows=5
    )


@query(
    "q275_cross_correlation",
    oracle="""
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                           AS BIGINT) AS x,
                      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                           AS BIGINT) AS y
               FROM events WHERE ts IS NOT NULL
               GROUP BY CAST(ts AS DATE)),
    lagk AS (SELECT day, x, y, k.k,
                    CASE WHEN k.k >= 0
                         THEN lead(y, CAST(k.k AS INT)) OVER (PARTITION BY k.k ORDER BY day)
                         ELSE lag(y, CAST(-k.k AS INT)) OVER (PARTITION BY k.k ORDER BY day)
                    END AS yl
             FROM d, (SELECT unnest(range(-7, 8)) AS k) k),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy
            FROM d),
    dev AS (SELECT k, CAST(n AS HUGEINT) * x - sx AS dx,
                   CAST(n AS HUGEINT) * y - sy AS dy0,
                   CASE WHEN yl IS NULL THEN NULL
                        ELSE CAST(n AS HUGEINT) * yl - sy END AS dyl,
                   n
            FROM lagk, tot),
    num AS (SELECT n, k, sum(dx * dyl) AS num FROM dev
            WHERE dyl IS NOT NULL GROUP BY n, k),
    den AS (SELECT n, sum(dx * dx) AS dxx, sum(dy0 * dy0) AS dyy
            FROM dev WHERE k = 0 GROUP BY n)
    SELECT CAST(num.k AS INT) AS lag, num.n AS n_obs,
           CASE WHEN CAST(dxx AS DOUBLE) > 0 AND CAST(dyy AS DOUBLE) > 0
                THEN round(CAST(num AS DOUBLE)
                           / sqrt(CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)), 6)
           END AS ccf
    FROM num JOIN den USING (n) ORDER BY lag
    """,
)
def q275_cross_correlation(spark, sf_dir):
    """Cross-correlation between the daily VIEW and PURCHASE volume
    series at lags −7..+7 — does view traffic lead purchases (and by
    how many days)? The lead/lag structure q266's within-series ACF
    cannot see; n-scaled integer folds, one sqrt+division close. See
    :func:`maston_spark.relational.cross_correlation`."""
    from maston_spark.relational import cross_correlation

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "view").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
    )
    return cross_correlation(daily, "day", "x", "y", max_lag=7)


@query(
    "q276_frequent_triples",
    oracle="""
    WITH it AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
                FROM lineitem JOIN part ON l_partkey = p_partkey),
    sz AS (SELECT b FROM it GROUP BY b HAVING count(*) <= 1024),
    bd AS (SELECT it.b, it.i FROM it JOIN sz USING (b)),
    tri AS (SELECT x.i AS item_a, y.i AS item_b, z.i AS item_c,
                   CAST(count(*) AS BIGINT) AS support
            FROM bd x JOIN bd y ON x.b = y.b AND x.i < y.i
                      JOIN bd z ON y.b = z.b AND y.i < z.i
            GROUP BY 1, 2, 3 HAVING count(*) >= 2)
    SELECT item_a, item_b, item_c, support
    FROM tri ORDER BY support DESC, item_a, item_b, item_c LIMIT 20
    """,
)
def q276_frequent_triples(spark, sf_dir):
    """Frequent brand 3-itemsets across order baskets — the Apriori
    level-3 census (downward-closure pruned: only triples whose
    three sub-pairs are frequent ever meet the third-item join)
    extending q222's pair census. The ORACLE is the brute-force
    triple enumeration — a support-2 triple necessarily has
    support-2 sub-pairs, so the pruned result must equal it exactly
    (the prune is certified lossless cross-engine). See
    :func:`maston_spark.relational.frequent_triples`."""
    from maston_spark.relational import frequent_triples

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    return frequent_triples(j, "l_orderkey", "p_brand", min_support=2, top_k=20)


@query(
    "q277_information_gain",
    oracle="""
    SELECT 'dow' AS feature, n_rows, h_a AS h_label, h_b AS h_feature, mi, nmi
    FROM (
      WITH cells AS (SELECT event_type AS a, CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS VARCHAR) AS b, CAST(count(*) AS BIGINT) AS n
                     FROM events
                     WHERE event_type IS NOT NULL AND ts IS NOT NULL
                       AND value IS NOT NULL AND (CAST((CAST(ts AS DATE) - DATE '1970-01-01') % 7 AS VARCHAR)) IS NOT NULL
                     GROUP BY 1, 2),
      m AS (SELECT a, b, n,
                   sum(n) OVER (PARTITION BY a) AS na,
                   sum(n) OVER (PARTITION BY b) AS nb
            FROM cells),
      agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                     sum(CAST(round(CAST(n AS DOUBLE)
                                    * ln(CAST(n AS DOUBLE)
                                         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
                              AS DECIMAL(28,9))) AS smi
              FROM m),
      ha AS (SELECT sum(CAST(round(CAST(na AS DOUBLE) * ln(CAST(na AS DOUBLE)), 6)
                             AS DECIMAL(28,9))) AS sa
             FROM (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a)),
      hb AS (SELECT sum(CAST(round(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE)), 6)
                             AS DECIMAL(28,9))) AS sb
             FROM (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b)),
      staged AS (
        SELECT nn AS n_rows,
               round(ln(CAST(nn AS DOUBLE)) - CAST(sa AS DOUBLE) / nn, 6) AS h_a,
               round(ln(CAST(nn AS DOUBLE)) - CAST(sb AS DOUBLE) / nn, 6) AS h_b,
               round(CAST(smi AS DOUBLE) / nn + ln(CAST(nn AS DOUBLE)), 6) AS mi
        FROM agg, ha, hb)
      SELECT n_rows, h_a, h_b, mi,
             CASE WHEN least(h_a, h_b) > 0
                  THEN round(mi / least(h_a, h_b), 6) END AS nmi
      FROM staged)
    
    UNION ALL

    SELECT 'hour_of_day' AS feature, n_rows, h_a AS h_label, h_b AS h_feature, mi, nmi
    FROM (
      WITH cells AS (SELECT event_type AS a, CAST(hour(ts) AS VARCHAR) AS b, CAST(count(*) AS BIGINT) AS n
                     FROM events
                     WHERE event_type IS NOT NULL AND ts IS NOT NULL
                       AND value IS NOT NULL AND (CAST(hour(ts) AS VARCHAR)) IS NOT NULL
                     GROUP BY 1, 2),
      m AS (SELECT a, b, n,
                   sum(n) OVER (PARTITION BY a) AS na,
                   sum(n) OVER (PARTITION BY b) AS nb
            FROM cells),
      agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                     sum(CAST(round(CAST(n AS DOUBLE)
                                    * ln(CAST(n AS DOUBLE)
                                         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
                              AS DECIMAL(28,9))) AS smi
              FROM m),
      ha AS (SELECT sum(CAST(round(CAST(na AS DOUBLE) * ln(CAST(na AS DOUBLE)), 6)
                             AS DECIMAL(28,9))) AS sa
             FROM (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a)),
      hb AS (SELECT sum(CAST(round(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE)), 6)
                             AS DECIMAL(28,9))) AS sb
             FROM (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b)),
      staged AS (
        SELECT nn AS n_rows,
               round(ln(CAST(nn AS DOUBLE)) - CAST(sa AS DOUBLE) / nn, 6) AS h_a,
               round(ln(CAST(nn AS DOUBLE)) - CAST(sb AS DOUBLE) / nn, 6) AS h_b,
               round(CAST(smi AS DOUBLE) / nn + ln(CAST(nn AS DOUBLE)), 6) AS mi
        FROM agg, ha, hb)
      SELECT n_rows, h_a, h_b, mi,
             CASE WHEN least(h_a, h_b) > 0
                  THEN round(mi / least(h_a, h_b), 6) END AS nmi
      FROM staged)
    
    UNION ALL

    SELECT 'val_bucket' AS feature, n_rows, h_a AS h_label, h_b AS h_feature, mi, nmi
    FROM (
      WITH cells AS (SELECT event_type AS a, CAST(CAST(floor(value / 50) AS INT) AS VARCHAR) AS b, CAST(count(*) AS BIGINT) AS n
                     FROM events
                     WHERE event_type IS NOT NULL AND ts IS NOT NULL
                       AND value IS NOT NULL AND (CAST(CAST(floor(value / 50) AS INT) AS VARCHAR)) IS NOT NULL
                     GROUP BY 1, 2),
      m AS (SELECT a, b, n,
                   sum(n) OVER (PARTITION BY a) AS na,
                   sum(n) OVER (PARTITION BY b) AS nb
            FROM cells),
      agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                     sum(CAST(round(CAST(n AS DOUBLE)
                                    * ln(CAST(n AS DOUBLE)
                                         / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))), 6)
                              AS DECIMAL(28,9))) AS smi
              FROM m),
      ha AS (SELECT sum(CAST(round(CAST(na AS DOUBLE) * ln(CAST(na AS DOUBLE)), 6)
                             AS DECIMAL(28,9))) AS sa
             FROM (SELECT a, CAST(sum(n) AS BIGINT) AS na FROM cells GROUP BY a)),
      hb AS (SELECT sum(CAST(round(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE)), 6)
                             AS DECIMAL(28,9))) AS sb
             FROM (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b)),
      staged AS (
        SELECT nn AS n_rows,
               round(ln(CAST(nn AS DOUBLE)) - CAST(sa AS DOUBLE) / nn, 6) AS h_a,
               round(ln(CAST(nn AS DOUBLE)) - CAST(sb AS DOUBLE) / nn, 6) AS h_b,
               round(CAST(smi AS DOUBLE) / nn + ln(CAST(nn AS DOUBLE)), 6) AS mi
        FROM agg, ha, hb)
      SELECT n_rows, h_a, h_b, mi,
             CASE WHEN least(h_a, h_b) > 0
                  THEN round(mi / least(h_a, h_b), 6) END AS nmi
      FROM staged)
    
    ORDER BY feature
""",
)
def q277_information_gain(spark, sf_dir):
    """Information-gain feature ranking: how many nats do day-of-week,
    hour-of-day and the value bucket each carry about the event type?
    The multi-feature selection sweep (one contingency pass per
    feature) next to q248's single-pair MI audit; nmi ~ 1 would flag
    a leaky feature. All rows share the same NULL gate (every feature
    defined) so the three MIs are computed on ONE population. See
    :func:`maston_spark.profiling.information_gain`."""
    from maston_spark.profiling import information_gain

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    feats = ev.select(
        "event_type",
        (
            F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
            % 7
        ).cast("string").alias("dow"),
        F.hour("ts").cast("string").alias("hour_of_day"),
        F.floor(F.col("value") / 50).cast("int").cast("string").alias("val_bucket"),
    )
    return information_gain(
        feats, "event_type", ["dow", "hour_of_day", "val_bucket"]
    )


@query(
    "q278_interarrival_burstiness",
    oracle="""
    WITH g AS (SELECT event_type AS grp,
                      epoch_us(ts) - lag(epoch_us(ts)) OVER
                        (PARTITION BY event_type ORDER BY ts, event_id) AS d
               FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
    a AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_gaps,
                 sum(CAST(d AS HUGEINT)) AS sd,
                 sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sdd
          FROM g WHERE d IS NOT NULL GROUP BY grp),
    c AS (SELECT grp, n_gaps, CAST(n_gaps AS DOUBLE) AS n,
                 CAST(sd AS DOUBLE) AS sdv, CAST(sdd AS DOUBLE) AS sddv
          FROM a),
    f AS (SELECT grp, n_gaps, n, sdv,
                 n * (n * sddv - sdv * sdv) / ((n - 1.0) * sdv * sdv) AS cv2
          FROM c)
    SELECT grp AS "group", n_gaps,
           round(sdv / n / 1e6, 6) AS mean_gap_s,
           CASE WHEN n_gaps >= 2 AND sdv > 0 THEN round(cv2, 6) END AS cv2,
           CASE WHEN n_gaps >= 2 AND sdv > 0
                THEN round((sqrt(cv2) - 1.0) / (sqrt(cv2) + 1.0), 6) END
             AS burstiness
    FROM f ORDER BY "group"
    """,
)
def q278_interarrival_burstiness(spark, sf_dir):
    """Inter-arrival burstiness fingerprint per event type —
    steady / Poisson-like / bursty (Goh-Barabási (σ−μ)/(σ+μ)) — the
    traffic-shape number read before sizing streaming state or rate
    alarms; integer microsecond gap folds in decimal(38,0), one
    sqrt close. See
    :func:`maston_spark.relational.interarrival_stats`."""
    from maston_spark.relational import interarrival_stats

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    return interarrival_stats(ev, "event_type", "ts", "event_id")


@query(
    "q279_dispersion_index",
    oracle="""
    WITH d AS (SELECT event_type AS g, CAST(ts AS DATE) AS day,
                      CAST(count(*) AS BIGINT) AS x
               FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2),
    a AS (SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
                 sum(CAST(x AS HUGEINT)) AS s,
                 sum(CAST(x AS HUGEINT) * x) AS ss
          FROM d GROUP BY g),
    c AS (SELECT g, n_rows, CAST(n_rows AS DOUBLE) AS n,
                 CAST(s AS DOUBLE) AS sv, CAST(ss AS DOUBLE) AS ssv
          FROM a),
    f AS (SELECT g, n_rows, n, sv,
                 sv / n AS mean,
                 (n * ssv - sv * sv) / (n * (n - 1.0)) AS var
          FROM c)
    SELECT g AS "group", n_rows,
           round(mean, 6) AS mean,
           CASE WHEN n_rows >= 2 THEN round(var, 6) END AS variance,
           CASE WHEN n_rows >= 2 AND sv > 0 THEN round(var / mean, 6) END
             AS dispersion,
           coalesce(CASE WHEN n_rows >= 2 AND sv > 0
                    THEN (n - 1.0) * (var / mean)
                         > (n - 1.0) + 1.959963984540054 * sqrt(2.0 * (n - 1.0))
                    END, FALSE) AS overdispersed_95
    FROM f ORDER BY "group"
    """,
)
def q279_dispersion_index(spark, sf_dir):
    """Overdispersion check of each event type's DAILY volume: is the
    count series Poisson-compatible (dispersion ≈ 1) or clumped —
    the rate-model admissibility gate run before alarms assume a
    Poisson baseline (Fisher's dispersion index + the chi-square
    dispersion test). See
    :func:`maston_spark.evaluation.dispersion_index`."""
    from maston_spark.evaluation import dispersion_index

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    daily = ev.groupBy(
        F.col("event_type").alias("g"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    return dispersion_index(daily, "g", "x")


@query(
    "q280_markov_entropy",
    oracle="""
    WITH t AS (SELECT user_id, event_type AS a,
                      lead(event_type) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id) AS b
               FROM events
               WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
    cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
              FROM t WHERE b IS NOT NULL GROUP BY a, b),
    m AS (SELECT n, sum(n) OVER (PARTITION BY a) AS na FROM cells),
    agg AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                   sum(CAST(round(CAST(n AS DOUBLE)
                                  * ln(CAST(n AS DOUBLE) / CAST(na AS DOUBLE)), 6)
                            AS DECIMAL(28,9))) AS sc
            FROM m),
    dst AS (SELECT b, CAST(sum(n) AS BIGINT) AS nb FROM cells GROUP BY b),
    h0 AS (SELECT sum(CAST(round(CAST(nb AS DOUBLE) * ln(CAST(nb AS DOUBLE)), 6)
                           AS DECIMAL(28,9))) AS sb
           FROM dst)
    SELECT nn AS n_transitions,
           round(-(CAST(sc AS DOUBLE) / nn), 6) AS h_rate,
           round(ln(CAST(nn AS DOUBLE)) - CAST(sb AS DOUBLE) / nn, 6) AS h_zero,
           round((ln(CAST(nn AS DOUBLE)) - CAST(sb AS DOUBLE) / nn)
                 - (-(CAST(sc AS DOUBLE) / nn)), 6) AS info_gain
    FROM agg, h0
    """,
)
def q280_markov_entropy(spark, sf_dir):
    """First-order Markov entropy rate of per-user event sequences:
    how many nats does knowing the CURRENT event type shave off
    predicting the next one (info_gain = h_zero − h_rate)? The
    behavioral-predictability number beside q235's per-pair
    transition lift — one lead window + one contingency agg. See
    :func:`maston_spark.relational.markov_entropy_rate`."""
    from maston_spark.relational import markov_entropy_rate

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    return markov_entropy_rate(
        ev, "user_id", ["ts", "event_id"], "event_type"
    )


@query(
    "q281_capture_recapture",
    oracle="""
    WITH m AS (SELECT doc_id,
                      CASE WHEN ('0x' || substr(md5('crawlA:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                                % 10 < 7 THEN 1 ELSE 0 END AS in_a,
                      CASE WHEN ('0x' || substr(md5('crawlB:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                                % 10 < 5 THEN 1 ELSE 0 END AS in_b
               FROM documents),
    k AS (SELECT in_a + 2 * in_b AS mark FROM m WHERE in_a + 2 * in_b > 0),
    a AS (SELECT CAST(sum(CASE WHEN mark IN (1, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
                 CAST(sum(CASE WHEN mark IN (2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_second,
                 CAST(sum(CASE WHEN mark = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
                 CAST(count(*) AS BIGINT) AS n_observed
          FROM k),
    c AS (SELECT n_first, n_second, n_both, n_observed,
                 CAST(n_first AS DOUBLE) AS n1, CAST(n_second AS DOUBLE) AS n2,
                 CAST(n_both AS DOUBLE) AS mm
          FROM a),
    f AS (SELECT n_first, n_second, n_both, n_observed, n1, n2, mm,
                 (n1 + 1.0) * (n2 + 1.0) / (mm + 1.0) - 1.0 AS est,
                 sqrt((n1 + 1.0) * (n2 + 1.0) * (n1 - mm) * (n2 - mm)
                      / ((mm + 1.0) * (mm + 1.0) * (mm + 2.0))) AS se
          FROM c)
    SELECT n_first, n_second, n_both, n_observed,
           CASE WHEN n_both > 0 THEN round(est, 2) END AS n_est,
           CASE WHEN n_both > 0 THEN round(est - 1.959963984540054 * se, 2) END
             AS ci_lo,
           CASE WHEN n_both > 0 THEN round(est + 1.959963984540054 * se, 2) END
             AS ci_hi
    FROM f
    """,
)
def q281_capture_recapture(spark, sf_dir):
    """Chapman capture-recapture estimate of the TRUE document
    universe from two simulated overlapping crawls (deterministic
    70% / 50% md5 membership): how many documents did neither crawl
    see? The two-sample coverage planner beside q237's
    single-sample Chao1 and q282's Good-Turing unseen mass. See
    :func:`maston_spark.evaluation.capture_recapture`."""
    from maston_spark.evaluation import capture_recapture

    d = load_table(spark, sf_dir, "documents").select("doc_id")

    def lane(prefix):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(prefix), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 10
        )

    marked = d.select(
        "doc_id",
        (
            (lane("crawlA:") < 7).cast("int")
            + F.lit(2) * (lane("crawlB:") < 5).cast("int")
        ).alias("mark"),
    ).filter(F.col("mark") > 0)
    return capture_recapture(marked, "doc_id", "mark")


@query(
    "q282_good_turing",
    oracle="""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok
                  FROM documents WHERE text IS NOT NULL),
    counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
               FROM toks WHERE tok IS NOT NULL GROUP BY tok),
    fof AS (SELECT c, CAST(count(*) AS BIGINT) AS f FROM counts GROUP BY c),
    a AS (SELECT CAST(sum(c * f) AS BIGINT) AS n_items,
                 CAST(sum(f) AS BIGINT) AS vocab,
                 CAST(coalesce(sum(CASE WHEN c = 1 THEN f END), 0) AS BIGINT)
                   AS n_singletons,
                 CAST(coalesce(sum(CASE WHEN c = 2 THEN f END), 0) AS BIGINT)
                   AS n_doubletons
          FROM fof)
    SELECT n_items, vocab, n_singletons, n_doubletons,
           round(CAST(n_singletons AS DOUBLE) / CAST(n_items AS DOUBLE), 6)
             AS p_unseen,
           CASE WHEN n_singletons > 0
                THEN round(2.0 * CAST(n_doubletons AS DOUBLE)
                           / CAST(n_singletons AS DOUBLE), 6) END AS r1_adjusted
    FROM a
    """,
)
def q282_good_turing(spark, sf_dir):
    """Good-Turing unseen-mass estimate over the corpus vocabulary:
    the probability the NEXT token is never-before-seen (singleton
    share) plus the GT singleton discount — the OOV-budget number
    beside q237's Chao1 richness and q183's against-a-reference OOV
    rate. See :func:`maston_spark.llm.text.good_turing_unseen`."""
    from maston_spark.llm.text import good_turing_unseen

    d = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select(
        F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok").isNotNull())
    return good_turing_unseen(toks, "tok")


@query(
    "q286_isotonic_calibration",
    oracle="""
    WITH m AS (SELECT max(value) AS vmax FROM events
               WHERE value IS NOT NULL AND event_type IS NOT NULL
                 AND user_id IS NOT NULL),
    e AS (SELECT CAST(user_id % 3 AS INT) AS g,
                 value / m.vmax AS sc,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events, m
          WHERE value IS NOT NULL AND event_type IS NOT NULL
            AND user_id IS NOT NULL),
    b AS (SELECT g, least(19, greatest(0, CAST(floor(sc * 20) AS INT))) AS bin,
                 CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS s
          FROM e GROUP BY 1, 2),
    c AS (SELECT g, bin, n, s,
                 sum(n) OVER (PARTITION BY g ORDER BY bin) AS cn,
                 sum(s) OVER (PARTITION BY g ORDER BY bin) AS cs
          FROM b),
    iv AS (SELECT l.g, l.bin AS j, r.bin AS k,
                  (2 * CAST(r.cs - (l.cs - l.s) AS HUGEINT) * 1000000000
                   + CAST(r.cn - (l.cn - l.n) AS HUGEINT))
                  // (2 * CAST(r.cn - (l.cn - l.n) AS HUGEINT)) AS a
           FROM c l JOIN c r ON l.g = r.g AND r.bin >= l.bin),
    inr AS (SELECT p.g, p.bin AS i, p.n, p.s, iv.j,
                   min(iv.a) AS mn
            FROM b p JOIN iv ON iv.g = p.g AND iv.j <= p.bin
                            AND iv.k >= p.bin
            GROUP BY 1, 2, 3, 4, 5),
    f AS (SELECT g, i, n, s, max(mn) AS fit FROM inr GROUP BY 1, 2, 3, 4)
    SELECT g AS "group", i AS bin, n AS n_rows, s AS n_pos,
           CAST((2 * CAST(s AS HUGEINT) * 1000000 + n) // (2 * n) AS DOUBLE)
             / 1e6 AS raw_rate,
           CAST(fit AS DOUBLE) / 1e9 AS fitted_rate
    FROM f ORDER BY "group", bin
    """,
)
def q286_isotonic_calibration(spark, sf_dir):
    """Isotonic (PAV) calibration of the max-normalized value score
    against the purchase label (q258's construction), per user
    cohort (user_id mod 3): the deployable monotone score→rate map,
    decided entirely in integer nanos via the minimax
    characterization. See
    :func:`maston_spark.evaluation.isotonic_calibration`."""
    from maston_spark.evaluation import isotonic_calibration

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
    )
    vmax = ev.agg(F.max("value").alias("__vmax"))
    scored = ev.crossJoin(F.broadcast(vmax)).select(
        F.pmod(F.col("user_id"), F.lit(3)).cast("int").alias("cohort"),
        (F.col("value") / F.col("__vmax")).alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    return isotonic_calibration(scored, "cohort", "s", "y", n_bins=20)


@query(
    "q287_cem_att",
    oracle="""
    WITH rev AS (SELECT o_custkey AS ck,
                        CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                             AS BIGINT) AS cents
                 FROM orders GROUP BY o_custkey),
    u AS (SELECT c.c_nationkey AS nat,
                 (CAST(round(c.c_acctbal * 100) AS BIGINT) + 100000)
                   // 100000 AS bal_bin,
                 CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS t,
                 coalesce(rev.cents, 0) AS y
          FROM customer c LEFT JOIN rev ON rev.ck = c.c_custkey
          WHERE c.c_nationkey IS NOT NULL AND c.c_acctbal IS NOT NULL
            AND c.c_mktsegment IS NOT NULL),
    cells AS (SELECT nat, bal_bin, t, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(y) AS BIGINT) AS s
              FROM u GROUP BY 1, 2, 3),
    st AS (SELECT nat, bal_bin,
                  CAST(coalesce(sum(CASE WHEN t = 1 THEN n END), 0) AS BIGINT) AS nt,
                  CAST(coalesce(sum(CASE WHEN t = 1 THEN s END), 0) AS BIGINT) AS stc,
                  CAST(coalesce(sum(CASE WHEN t = 0 THEN n END), 0) AS BIGINT) AS nc,
                  CAST(coalesce(sum(CASE WHEN t = 0 THEN s END), 0) AS BIGINT) AS scc
           FROM cells GROUP BY 1, 2),
    per AS (SELECT nt, nc,
                   CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END AS m,
                   CASE WHEN nt > 0 AND nc > 0
                        THEN (2 * CAST(stc AS HUGEINT) * 10000 + nt) // (2 * nt)
                             - (2 * CAST(scc AS HUGEINT) * 10000 + nc) // (2 * nc)
                   END AS d
            FROM st),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n_strata_total,
                   CAST(sum(m) AS BIGINT) AS n_strata_matched,
                   CAST(sum(nt) AS BIGINT) AS n_treated_total,
                   CAST(sum(CASE WHEN m = 1 THEN nt END) AS BIGINT)
                     AS n_treated_matched,
                   CAST(coalesce(sum(CASE WHEN m = 1 THEN nc END), 0) AS BIGINT)
                     AS n_control_matched,
                   sum(CASE WHEN m = 1 THEN nt * d END) AS num
            FROM per)
    SELECT n_strata_total, n_strata_matched, n_treated_total,
           n_treated_matched, n_control_matched,
           CASE WHEN n_treated_matched > 0 THEN
             CAST(CASE WHEN num >= 0
                       THEN (2 * num + n_treated_matched)
                            // (2 * CAST(n_treated_matched AS HUGEINT))
                       ELSE -((2 * (-num) + n_treated_matched)
                              // (2 * CAST(n_treated_matched AS HUGEINT)))
                  END AS DOUBLE) / 1e6
           END AS att
    FROM agg
    """,
)
def q287_cem_att(spark, sf_dir):
    """Coarsened-exact-matching ATT of the BUILDING market segment
    on customer lifetime order revenue, matched on (nation,
    account-balance band): the observational causal readout beside
    q221's randomized CUPED — strata holding both a treated and a
    control customer weight their mean difference by treated count;
    unmatched treated are reported, not silently dropped. See
    :func:`maston_spark.evaluation.cem_att`."""
    from maston_spark.evaluation import cem_att

    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isNotNull()
        & F.col("c_acctbal").isNotNull()
        & F.col("c_mktsegment").isNotNull()
    )
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * F.lit(100), 0).cast("long")
            ).alias("__cents")
        )
    )
    u = cust.join(
        rev, cust["c_custkey"] == rev["o_custkey"], "left"
    ).select(
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 100000"
        ).alias("bal_bin"),
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("t"),
        F.coalesce(F.col("__cents"), F.lit(0)).cast("long").alias("y"),
    )
    return cem_att(u, ["nat", "bal_bin"], "t", "y")


@query(
    "q288_precedence_census",
    oracle="""
    WITH b AS (SELECT user_id AS e, event_type AS t, epoch_us(ts) AS us
               FROM events
               WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                 AND ts IS NOT NULL),
    per AS (SELECT e, t, min(us) AS mn, max(us) AS mx FROM b GROUP BY e, t),
    nt AS (SELECT t, CAST(count(*) AS BIGINT) AS n FROM per GROUP BY t),
    ntot AS (SELECT CAST(count(DISTINCT e) AS BIGINT) AS n FROM per),
    pre AS (SELECT l.t AS type_a, r.t AS type_b,
                   CAST(count(*) AS BIGINT) AS n_precede
            FROM per l JOIN per r ON l.e = r.e AND l.t <> r.t
                                  AND l.mn < r.mx
            GROUP BY 1, 2
            HAVING count(*) >= 5)
    SELECT pre.type_a, pre.type_b,
           na.n AS n_entities_a, nb.n AS n_entities_b, pre.n_precede,
           CAST((2 * pre.n_precede * 1000000 + na.n) // (2 * na.n)
                AS DOUBLE) / 1e6 AS confidence,
           CAST((2 * CAST(pre.n_precede AS HUGEINT) * ntot.n * 1000000
                 + CAST(na.n AS HUGEINT) * nb.n)
                // (2 * CAST(na.n AS HUGEINT) * nb.n) AS DOUBLE) / 1e6 AS lift
    FROM pre JOIN nt na ON na.t = pre.type_a
             JOIN nt nb ON nb.t = pre.type_b
             CROSS JOIN ntot
    ORDER BY type_a, type_b
    """,
)
def q288_precedence_census(spark, sf_dir):
    """Existential event-precedence census per user: for every
    ordered event-type pair, how many users did ``a`` strictly
    before ``b`` (any gap), with confidence and independence lift —
    the non-contiguous sequence lens beside q110's contiguous paths
    and q235's adjacent transitions. See
    :func:`maston_spark.relational.precedence_census`."""
    from maston_spark.relational import precedence_census

    ev = load_table(spark, sf_dir, "events")
    return precedence_census(ev, "user_id", "event_type", "ts", min_support=5)


@query(
    "q289_binseg_changepoints",
    oracle="""
    WITH b AS (SELECT event_type AS g, date_trunc('hour', ts) AS bkt,
                      CAST(count(*) AS BIGINT) AS c
               FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2),
    wc AS (SELECT g, bkt,
                  CAST(sum(c) OVER (PARTITION BY g ORDER BY bkt) AS BIGINT)
                    AS cum,
                  CAST(row_number() OVER (PARTITION BY g ORDER BY bkt)
                       AS BIGINT) AS idx
           FROM b),
    t AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(c) AS BIGINT) AS tot FROM b GROUP BY g),
    s0 AS (SELECT wc.g, wc.bkt, wc.cum, wc.idx, t.n, t.tot,
                  t.n * wc.cum - wc.idx * t.tot AS sc
           FROM wc JOIN t ON t.g = wc.g),
    cp0 AS (SELECT g, bkt AS cp0, idx AS i0, cum AS cum0, n, tot, sc
            FROM (SELECT *, row_number() OVER (PARTITION BY g
                          ORDER BY abs(sc) DESC, bkt ASC) AS rn FROM s0)
            WHERE rn = 1),
    l0 AS (SELECT g AS "group", 'all' AS segment, n AS seg_buckets,
                  tot AS seg_events, cp0 AS changepoint_ts,
                  CAST(sc AS BIGINT) AS cusum_scaled
           FROM cp0),
    sided AS (SELECT wc.g, wc.bkt,
                     CASE WHEN wc.idx <= cp0.i0 THEN 'left'
                          ELSE 'right' END AS segment,
                     CASE WHEN wc.idx <= cp0.i0 THEN wc.idx
                          ELSE wc.idx - cp0.i0 END AS si,
                     CASE WHEN wc.idx <= cp0.i0 THEN wc.cum
                          ELSE wc.cum - cp0.cum0 END AS scum
              FROM wc JOIN cp0 ON cp0.g = wc.g),
    seg_t AS (SELECT g, segment, CAST(count(*) AS BIGINT) AS sn,
                     CAST(max(scum) AS BIGINT) AS stot
              FROM sided GROUP BY 1, 2),
    s1 AS (SELECT sided.g, sided.bkt, sided.segment, seg_t.sn, seg_t.stot,
                  seg_t.sn * sided.scum - sided.si * seg_t.stot AS sc
           FROM sided JOIN seg_t ON seg_t.g = sided.g
                               AND seg_t.segment = sided.segment),
    l1 AS (SELECT g AS "group", segment, sn AS seg_buckets,
                  stot AS seg_events, bkt AS changepoint_ts,
                  CAST(sc AS BIGINT) AS cusum_scaled
           FROM (SELECT *, row_number() OVER (PARTITION BY g, segment
                         ORDER BY abs(sc) DESC, bkt ASC) AS rn FROM s1)
           WHERE rn = 1 AND sn >= 2)
    SELECT * FROM l0 UNION ALL SELECT * FROM l1
    ORDER BY "group", segment
    """,
)
def q289_binseg_changepoints(spark, sf_dir):
    """Two-level binary segmentation of each event type's hourly
    rate: the global CUSUM changepoint, then the same n-scaled
    integer statistic inside each half — finds a double rate shift a
    single CUSUM peak would blur. See
    :func:`maston_spark.relational.binseg_changepoints`."""
    from maston_spark.relational import binseg_changepoints

    ev = load_table(spark, sf_dir, "events")
    return binseg_changepoints(ev, "event_type", "ts", unit="hour")


@query(
    "q290_k_anonymity",
    oracle="""
    WITH u AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
                      (CAST(round(c_acctbal * 100) AS BIGINT) + 100000)
                        // 100000 AS band,
                      CAST(round(c_acctbal * 100) AS BIGINT) AS sv
               FROM customer),
    cells AS (SELECT nat, seg, band, sv, CAST(count(*) AS BIGINT) AS n
              FROM u GROUP BY 1, 2, 3, 4),
    cls AS (SELECT nat, seg, band, CAST(sum(n) AS BIGINT) AS k,
                   CAST(count(*) AS BIGINT) AS l
            FROM cells GROUP BY 1, 2, 3),
    a AS (SELECT CAST(sum(k) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_classes,
                 CAST(min(k) AS BIGINT) AS k_min,
                 CAST(min(l) AS BIGINT) AS l_min,
                 CAST(coalesce(sum(CASE WHEN k = 1 THEN k END), 0) AS BIGINT) AS u_rows,
                 CAST(coalesce(sum(CASE WHEN l = 1 THEN k END), 0) AS BIGINT) AS l1_rows,
                 CAST(coalesce(sum(CASE WHEN k < 2 THEN k END), 0) AS BIGINT) AS b2,
                 CAST(coalesce(sum(CASE WHEN k < 5 THEN k END), 0) AS BIGINT) AS b5,
                 CAST(coalesce(sum(CASE WHEN k < 10 THEN k END), 0) AS BIGINT) AS b10
          FROM cls)
    SELECT n_rows, n_classes, k_min, l_min,
           CAST((2 * u_rows * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_unique_share,
           CAST((2 * b2 * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_below_k2_share,
           CAST((2 * b5 * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_below_k5_share,
           CAST((2 * b10 * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_below_k10_share,
           CAST((2 * l1_rows * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_l1_share
    FROM a
    """,
)
def q290_k_anonymity(spark, sf_dir):
    """k-anonymity / l-diversity release gate over customers:
    equivalence classes on (nation, segment, balance band) with the
    exact balance as the sensitive attribute — how re-identifiable
    is a row after PII scrubbing removed the direct identifiers?
    See :func:`maston_spark.profiling.k_anonymity_audit`."""
    from maston_spark.profiling import k_anonymity_audit

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 100000"
        ).alias("band"),
        F.expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").alias("sv"),
    )
    return k_anonymity_audit(c, ["nat", "seg", "band"], "sv")


@query(
    "q292_regression_discontinuity",
    oracle="""
    WITH b AS (SELECT CAST(event_id % 1000 AS DOUBLE) AS x, value AS y
               FROM events
               WHERE event_id IS NOT NULL AND value IS NOT NULL),
    w AS (SELECT x >= 500 AS above,
                 CAST(round(round(x - 500, 6) * 1e6) AS BIGINT) AS xl,
                 CAST(round(round(y, 6) * 1e6) AS BIGINT) AS yl
          FROM b WHERE x >= 300 AND x <= 700),
    s AS (SELECT above, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(xl AS HUGEINT)) AS sx,
                 sum(CAST(yl AS HUGEINT)) AS sy,
                 sum(CAST(xl AS HUGEINT) * xl) AS sxx,
                 sum(CAST(xl AS HUGEINT) * yl) AS sxy
          FROM w GROUP BY above),
    p AS (SELECT above, n,
                 n * sxx - sx * sx AS den,
                 (n * sxy - sx * sy) * 1000000 AS bn,
                 sy * sxx - sx * sxy AS an
          FROM s),
    m AS (SELECT above, n,
                 CASE WHEN den > 0 THEN
                   CASE WHEN bn >= 0 THEN (2 * bn + den) // (2 * den)
                        ELSE -((2 * (-bn) + den) // (2 * den)) END
                 END AS bmic,
                 CASE WHEN den > 0 THEN
                   CASE WHEN an >= 0 THEN (2 * an + den) // (2 * den)
                        ELSE -((2 * (-an) + den) // (2 * den)) END
                 END AS amic
          FROM p)
    SELECT lo.n AS n_below, hi.n AS n_above,
           CAST(lo.bmic AS DOUBLE) / 1e6 AS slope_below,
           CAST(hi.bmic AS DOUBLE) / 1e6 AS slope_above,
           CAST(lo.amic AS DOUBLE) / 1e6 AS intercept_below,
           CAST(hi.amic AS DOUBLE) / 1e6 AS intercept_above,
           CAST(hi.amic - lo.amic AS DOUBLE) / 1e6 AS rd_effect
    FROM (SELECT * FROM m WHERE NOT above) lo
         CROSS JOIN (SELECT * FROM m WHERE above) hi
    """,
)
def q292_regression_discontinuity(spark, sf_dir):
    """Sharp regression discontinuity of event value on the event-id
    running variable (cutoff 500, bandwidth 200) — the third causal
    lens (threshold assignment) beside q221's CUPED and q287's CEM;
    both side fits close over exact integer normal equations. See
    :func:`maston_spark.evaluation.regression_discontinuity`."""
    from maston_spark.evaluation import regression_discontinuity

    ev = load_table(spark, sf_dir, "events").select(
        F.pmod(F.col("event_id"), F.lit(1000)).cast("double").alias("x"),
        F.col("value").alias("y"),
    )
    return regression_discontinuity(ev, "x", "y", cutoff=500.0, bandwidth=200.0)


@query(
    "q293_voptimal_histogram",
    oracle="""
    WITH h AS (SELECT CAST(round(value) AS BIGINT) AS v,
                      CAST(count(*) AS BIGINT) AS w
               FROM events WHERE value IS NOT NULL GROUP BY 1),
    c AS (SELECT v, w, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS i,
                 sum(CAST(w AS HUGEINT)) OVER (ORDER BY v) AS cw,
                 sum(CAST(v * w AS HUGEINT)) OVER (ORDER BY v) AS cs,
                 sum(CAST(v * v * w AS HUGEINT)) OVER (ORDER BY v) AS cs2
          FROM h),
    lo AS (SELECT i AS j, v AS vj, cw - w AS pw, cs - v * w AS ps,
                  cs2 - v * v * w AS ps2 FROM c),
    hi AS (SELECT i AS k, v AS vk, cw AS kw, cs AS ks, cs2 AS ks2 FROM c),
    iv AS (SELECT j, k, vj, vk, CAST(kw - pw AS BIGINT) AS n,
                  ((kw - pw) * (ks2 - ps2) - (ks - ps) * (ks - ps))
                    // (kw - pw) AS sse
           FROM lo, hi WHERE k >= j),
    e1 AS (SELECT k AS i, sse AS cost FROM iv WHERE j = 1),
    c2 AS (SELECT iv.k AS i, e1.i AS s, e1.cost + iv.sse AS cost
           FROM e1 JOIN iv ON iv.j = e1.i + 1),
    b2 AS (SELECT i, min(cost) AS cost FROM c2 GROUP BY i),
    a2 AS (SELECT c2.i, c2.cost, min(c2.s) AS split
           FROM c2 JOIN b2 ON b2.i = c2.i AND b2.cost = c2.cost
           GROUP BY 1, 2),
    c3 AS (SELECT iv.k AS i, a2.i AS s, a2.cost + iv.sse AS cost
           FROM a2 JOIN iv ON iv.j = a2.i + 1),
    b3 AS (SELECT i, min(cost) AS cost FROM c3 GROUP BY i),
    a3 AS (SELECT c3.i, c3.cost, min(c3.s) AS split
           FROM c3 JOIN b3 ON b3.i = c3.i AND b3.cost = c3.cost
           GROUP BY 1, 2),
    c4 AS (SELECT iv.k AS i, a3.i AS s, a3.cost + iv.sse AS cost
           FROM a3 JOIN iv ON iv.j = a3.i + 1),
    b4 AS (SELECT i, min(cost) AS cost FROM c4 GROUP BY i),
    a4 AS (SELECT c4.i, c4.cost, min(c4.s) AS split
           FROM c4 JOIN b4 ON b4.i = c4.i AND b4.cost = c4.cost
           GROUP BY 1, 2),
    mm AS (SELECT max(i) AS m FROM c),
    f3 AS (SELECT a4.split AS cut3 FROM a4, mm WHERE a4.i = mm.m),
    f2 AS (SELECT a3.split AS cut2 FROM a3, f3 WHERE a3.i = f3.cut3),
    f1 AS (SELECT a2.split AS cut1 FROM a2, f2 WHERE a2.i = f2.cut2),
    spans AS (
      -- m >= 4: the DP chain; m < 4 (degenerate — fewer distinct
      -- values than buckets): one zero-SSE bucket per value, the
      -- same branch the engine takes
      SELECT 1 AS bucket, CAST(1 AS BIGINT) AS j, f1.cut1 AS k
      FROM f1, mm WHERE mm.m >= 4
      UNION ALL SELECT 2, f1.cut1 + 1, f2.cut2 FROM f1, f2, mm
      WHERE mm.m >= 4
      UNION ALL SELECT 3, f2.cut2 + 1, f3.cut3 FROM f2, f3, mm
      WHERE mm.m >= 4
      UNION ALL SELECT 4, f3.cut3 + 1, mm.m FROM f3, mm WHERE mm.m >= 4
      UNION ALL SELECT CAST(c.i AS INT), c.i, c.i FROM c, mm
      WHERE mm.m < 4)
    SELECT spans.bucket, iv.vj AS v_lo, iv.vk AS v_hi, iv.n AS n_rows,
           CAST(iv.sse AS DOUBLE) AS sse
    FROM spans JOIN iv ON iv.j = spans.j AND iv.k = spans.k
    ORDER BY bucket
    """,
)
def q293_voptimal_histogram(spark, sf_dir):
    """V-optimal 4-bucket histogram of the (integer-gridded) event
    value — the SSE-minimizing boundaries an optimizer's column
    statistics should store; the whole DP runs over exact integers
    so the oracle replays the recurrence level by level. See
    :func:`maston_spark.profiling.voptimal_histogram`."""
    from maston_spark.profiling import voptimal_histogram

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value"), 0).cast("long").alias("v")
    )
    return voptimal_histogram(ev, "v", n_buckets=4)


@query(
    "q294_qini_uplift",
    oracle="""
    WITH m AS (SELECT max(value) AS vmax FROM events
               WHERE value IS NOT NULL AND event_type IS NOT NULL
                 AND user_id IS NOT NULL AND event_id IS NOT NULL),
    e AS (SELECT value / m.vmax AS s,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
                 CAST(('0x' || substr(md5('exp:' || CAST(user_id AS VARCHAR)),
                                      1, 8))::BIGINT % 2 AS INT) AS tr,
                 event_id AS tb
          FROM events, m
          WHERE value IS NOT NULL AND event_type IS NOT NULL
            AND user_id IS NOT NULL AND event_id IS NOT NULL),
    r AS (SELECT *, row_number() OVER (ORDER BY s DESC, tb ASC) AS rn,
                 count(*) OVER () AS n
          FROM e),
    cells AS (SELECT CAST(((rn - 1) * 10) // n AS INT) AS bucket,
                     CAST(sum(tr) AS BIGINT) AS n_treated,
                     CAST(sum(1 - tr) AS BIGINT) AS n_control,
                     CAST(sum(tr * y) AS BIGINT) AS pos_treated,
                     CAST(sum((1 - tr) * y) AS BIGINT) AS pos_control
              FROM r GROUP BY 1),
    cum AS (SELECT *,
                   CAST(sum(n_treated) OVER (ORDER BY bucket) AS HUGEINT) AS ct,
                   CAST(sum(n_control) OVER (ORDER BY bucket) AS HUGEINT) AS cc,
                   CAST(sum(pos_treated) OVER (ORDER BY bucket) AS HUGEINT) AS pt,
                   CAST(sum(pos_control) OVER (ORDER BY bucket) AS HUGEINT) AS pc
            FROM cells)
    SELECT bucket, n_treated, n_control, pos_treated, pos_control,
           CASE WHEN n_treated > 0 AND n_control > 0 THEN
             CAST(CASE WHEN pos_treated * n_control - pos_control * n_treated >= 0
                  THEN (2 * (CAST(pos_treated AS HUGEINT) * n_control
                             - CAST(pos_control AS HUGEINT) * n_treated)
                        * 1000000 + CAST(n_treated AS HUGEINT) * n_control)
                       // (2 * CAST(n_treated AS HUGEINT) * n_control)
                  ELSE -((2 * (CAST(pos_control AS HUGEINT) * n_treated
                               - CAST(pos_treated AS HUGEINT) * n_control)
                          * 1000000 + CAST(n_treated AS HUGEINT) * n_control)
                         // (2 * CAST(n_treated AS HUGEINT) * n_control))
                  END AS DOUBLE) / 1e6
           END AS uplift_rate,
           CASE WHEN cc > 0 THEN
             CAST(CASE WHEN pt * cc - pc * ct >= 0
                  THEN (2 * (pt * cc - pc * ct) * 1000000 + cc) // (2 * cc)
                  ELSE -((2 * (pc * ct - pt * cc) * 1000000 + cc) // (2 * cc))
                  END AS DOUBLE) / 1e6
           END AS qini
    FROM cum ORDER BY bucket
    """,
)
def q294_qini_uplift(spark, sf_dir):
    """Qini uplift curve of the value score against the purchase
    label under the deterministic md5 arm split (q259's 'exp:'
    convention): per score decile, treated-vs-control response and
    the cumulative incremental conversions — the causal evaluation
    q229's gains table can't give (it credits control-arm
    conversions too). See
    :func:`maston_spark.evaluation.qini_uplift`."""
    from maston_spark.evaluation import qini_uplift

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    vmax = ev.agg(F.max("value").alias("__vmax"))
    arm = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("exp:"), F.col("user_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    scored = ev.crossJoin(F.broadcast(vmax)).select(
        (F.col("value") / F.col("__vmax")).alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        F.pmod(arm, F.lit(2)).cast("int").alias("tr"),
        F.col("event_id").alias("tb"),
    )
    return qini_uplift(scored, "tr", "s", "y", "tb", n_buckets=10)


@query(
    "q296_k_anonymity_prefix",
    oracle="""
    WITH u AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
                      (CAST(round(c_acctbal * 100) AS BIGINT) + 100000)
                        // 100000 AS band,
                      CAST(round(c_acctbal * 100) AS BIGINT) AS sv
               FROM customer),
    cells AS (SELECT nat, seg, band, sv, CAST(count(*) AS BIGINT) AS n
              FROM u GROUP BY 1, 2, 3, 4),
    cls AS (SELECT nat, seg, band, CAST(sum(n) AS BIGINT) AS k,
                   CAST(count(*) AS BIGINT) AS l
            FROM cells GROUP BY 1, 2, 3),
    a AS (SELECT CAST(sum(k) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS n_classes,
                 CAST(min(k) AS BIGINT) AS k_min,
                 CAST(min(l) AS BIGINT) AS l_min,
                 CAST(coalesce(sum(CASE WHEN k = 1 THEN k END), 0) AS BIGINT) AS u_rows,
                 CAST(coalesce(sum(CASE WHEN l = 1 THEN k END), 0) AS BIGINT) AS l1_rows,
                 CAST(coalesce(sum(CASE WHEN k < 2 THEN k END), 0) AS BIGINT) AS b2,
                 CAST(coalesce(sum(CASE WHEN k < 5 THEN k END), 0) AS BIGINT) AS b5,
                 CAST(coalesce(sum(CASE WHEN k < 10 THEN k END), 0) AS BIGINT) AS b10
          FROM cls)
    SELECT n_rows, n_classes, k_min, l_min,
           CAST((2 * u_rows * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_unique_share,
           CAST((2 * b2 * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_below_k2_share,
           CAST((2 * b5 * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_below_k5_share,
           CAST((2 * b10 * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_below_k10_share,
           CAST((2 * l1_rows * 1000000 + n_rows) // (2 * n_rows) AS DOUBLE)
             / 1e6 AS rows_l1_share
    FROM a
    """,
)
def q296_k_anonymity_prefix(spark, sf_dir):
    """The privacy-gate TOPOLOGY's fold identity, graded
    cross-engine: customers split into 3 deterministic micro-batches
    (c_custkey mod 3), each batch's (QI..., sensitive) cell counts
    folded with the SAME additive :func:`maston_spark.sketches.
    sum_counts` the streaming topology calls, then the shared
    :func:`maston_spark.profiling.
    k_anonymity_from_counts` closing math — while the oracle audits
    the whole table in one shot. Counts-of-union ≡
    sum-of-batch-counts exactly (neither k nor l is additive at
    CLASS granularity, which is exactly why the state holds cells);
    extends the topology-twin matrix to the NINTH topology, the
    privacy release gate."""
    from maston_spark.profiling import k_anonymity_from_counts
    from maston_spark.sketches import sum_counts

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "(CAST(round(c_acctbal * 100, 0) AS BIGINT) + 100000) div 100000"
        ).alias("band"),
        F.expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").alias("__sv"),
    )
    counts = None
    for b in range(3):
        g = (
            c.filter(F.pmod(F.col("c_custkey"), F.lit(3)) == b)
            .groupBy("nat", "seg", "band", "__sv")
            .agg(F.count(F.lit(1)).cast("long").alias("__n"))
        )
        counts = sum_counts(g, counts, ["nat", "seg", "band", "__sv"], ["__n"])
    return k_anonymity_from_counts(counts, ["nat", "seg", "band"])


@query(
    "q297_hits",
    oracle="""
    WITH pairs AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p
                   FROM lineitem),
    edges AS (SELECT 1000000 + s AS src, p AS dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    h0 AS (SELECT node, 1.0 AS hub FROM nodes),
    a1r AS (SELECT e.dst AS node,
                   sum(CAST(h.hub AS DECIMAL(28,9))) AS raw
            FROM edges e JOIN h0 h ON e.src = h.node GROUP BY e.dst),
    a1m AS (SELECT max(raw) AS m FROM a1r),
    a1 AS (SELECT n.node,
                  COALESCE(round(CAST(r.raw AS DOUBLE)
                                 / CAST(m.m AS DOUBLE), 9), 0.0)
                    AS authority
           FROM nodes n LEFT JOIN a1r r ON n.node = r.node
                CROSS JOIN a1m m),
    h1r AS (SELECT e.src AS node,
                   sum(CAST(a.authority AS DECIMAL(28,9))) AS raw
            FROM edges e JOIN a1 a ON e.dst = a.node GROUP BY e.src),
    h1m AS (SELECT max(raw) AS m FROM h1r),
    h1 AS (SELECT n.node,
                  COALESCE(round(CAST(r.raw AS DOUBLE)
                                 / CAST(m.m AS DOUBLE), 9), 0.0) AS hub
           FROM nodes n LEFT JOIN h1r r ON n.node = r.node
                CROSS JOIN h1m m),
    a2r AS (SELECT e.dst AS node,
                   sum(CAST(h.hub AS DECIMAL(28,9))) AS raw
            FROM edges e JOIN h1 h ON e.src = h.node GROUP BY e.dst),
    a2m AS (SELECT max(raw) AS m FROM a2r),
    a2 AS (SELECT n.node,
                  COALESCE(round(CAST(r.raw AS DOUBLE)
                                 / CAST(m.m AS DOUBLE), 9), 0.0)
                    AS authority
           FROM nodes n LEFT JOIN a2r r ON n.node = r.node
                CROSS JOIN a2m m),
    h2r AS (SELECT e.src AS node,
                   sum(CAST(a.authority AS DECIMAL(28,9))) AS raw
            FROM edges e JOIN a2 a ON e.dst = a.node GROUP BY e.src),
    h2m AS (SELECT max(raw) AS m FROM h2r),
    h2 AS (SELECT n.node,
                  COALESCE(round(CAST(r.raw AS DOUBLE)
                                 / CAST(m.m AS DOUBLE), 9), 0.0) AS hub
           FROM nodes n LEFT JOIN h2r r ON n.node = r.node
                CROSS JOIN h2m m)
    SELECT h2.node, round(h2.hub, 6) AS hub,
           round(a2.authority, 6) AS authority
    FROM h2 JOIN a2 ON h2.node = a2.node
    ORDER BY authority DESC, hub DESC, h2.node LIMIT 20
    """,
)
def q297_hits(spark, sf_dir):
    """HITS hubs/authorities over the supplier→part supply graph
    (suppliers offset by 1e6, the q118 node convention): top-20 by
    authority — the mutual-reinforcement link-analysis pair beside
    q118's single PageRank score. Two fixed iterations; every
    half-iteration folds the opposite score as DECIMAL(28,9) and
    max-normalizes with a round-9 quotient, so the oracle replays
    the exact vectors as inlined CTE stages. See
    :func:`maston_spark.graph.hits`."""
    from maston_spark.graph import hits

    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") + F.lit(1000000)).alias("src"),
        F.col("l_partkey").alias("dst"),
    ).distinct()
    return (
        hits(li, iterations=2)
        .orderBy(F.desc("authority"), F.desc("hub"), F.asc("node"))
        .limit(20)
    )


@query(
    "q298_selectivity_audit",
    oracle="""
    WITH h AS (SELECT CAST(round(value) AS BIGINT) AS v,
                      CAST(count(*) AS BIGINT) AS w
               FROM events WHERE value IS NOT NULL GROUP BY 1),
    c AS (SELECT v, w, CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS i,
                 sum(CAST(w AS HUGEINT)) OVER (ORDER BY v) AS cw,
                 sum(CAST(v * w AS HUGEINT)) OVER (ORDER BY v) AS cs,
                 sum(CAST(v * v * w AS HUGEINT)) OVER (ORDER BY v) AS cs2
          FROM h),
    lo AS (SELECT i AS j, v AS vj, cw - w AS pw, cs - v * w AS ps,
                  cs2 - v * v * w AS ps2 FROM c),
    hi AS (SELECT i AS k, v AS vk, cw AS kw, cs AS ks, cs2 AS ks2 FROM c),
    iv AS (SELECT j, k, vj, vk, CAST(kw - pw AS BIGINT) AS n,
                  ((kw - pw) * (ks2 - ps2) - (ks - ps) * (ks - ps))
                    // (kw - pw) AS sse
           FROM lo, hi WHERE k >= j),
    e1 AS (SELECT k AS i, sse AS cost FROM iv WHERE j = 1),
    c2 AS (SELECT iv.k AS i, e1.i AS s, e1.cost + iv.sse AS cost
           FROM e1 JOIN iv ON iv.j = e1.i + 1),
    b2 AS (SELECT i, min(cost) AS cost FROM c2 GROUP BY i),
    a2 AS (SELECT c2.i, c2.cost, min(c2.s) AS split
           FROM c2 JOIN b2 ON b2.i = c2.i AND b2.cost = c2.cost
           GROUP BY 1, 2),
    c3 AS (SELECT iv.k AS i, a2.i AS s, a2.cost + iv.sse AS cost
           FROM a2 JOIN iv ON iv.j = a2.i + 1),
    b3 AS (SELECT i, min(cost) AS cost FROM c3 GROUP BY i),
    a3 AS (SELECT c3.i, c3.cost, min(c3.s) AS split
           FROM c3 JOIN b3 ON b3.i = c3.i AND b3.cost = c3.cost
           GROUP BY 1, 2),
    c4 AS (SELECT iv.k AS i, a3.i AS s, a3.cost + iv.sse AS cost
           FROM a3 JOIN iv ON iv.j = a3.i + 1),
    b4 AS (SELECT i, min(cost) AS cost FROM c4 GROUP BY i),
    a4 AS (SELECT c4.i, c4.cost, min(c4.s) AS split
           FROM c4 JOIN b4 ON b4.i = c4.i AND b4.cost = c4.cost
           GROUP BY 1, 2),
    mm AS (SELECT max(i) AS m FROM c),
    f3 AS (SELECT a4.split AS cut3 FROM a4, mm WHERE a4.i = mm.m),
    f2 AS (SELECT a3.split AS cut2 FROM a3, f3 WHERE a3.i = f3.cut3),
    f1 AS (SELECT a2.split AS cut1 FROM a2, f2 WHERE a2.i = f2.cut2),
    spans AS (
      SELECT CAST(1 AS BIGINT) AS j, f1.cut1 AS k FROM f1, mm
      WHERE mm.m >= 4
      UNION ALL SELECT f1.cut1 + 1, f2.cut2 FROM f1, f2, mm
      WHERE mm.m >= 4
      UNION ALL SELECT f2.cut2 + 1, f3.cut3 FROM f2, f3, mm
      WHERE mm.m >= 4
      UNION ALL SELECT f3.cut3 + 1, mm.m FROM f3, mm WHERE mm.m >= 4
      UNION ALL SELECT c.i, c.i FROM c, mm WHERE mm.m < 4),
    vopt AS (SELECT iv.vj AS v_lo, iv.vk AS v_hi, iv.n AS n_rows
             FROM spans JOIN iv ON iv.j = spans.j AND iv.k = spans.k),
    bounds AS (SELECT min(v) AS vmin, max(v) AS vmax,
                      max(v) - min(v) + 1 AS span
               FROM h),
    ew AS (SELECT min(v) AS v_lo, max(v) AS v_hi,
                  CAST(sum(w) AS BIGINT) AS n_rows
           FROM h, bounds
           GROUP BY ((v - bounds.vmin) * 4) // bounds.span),
    preds AS (SELECT t.k AS pred_id,
                     b.vmin + (t.k * b.span) // 8 AS p_lo,
                     greatest(b.vmin + (t.k * b.span) // 8,
                              b.vmin + ((t.k + 2) * b.span) // 8 - 1)
                       AS p_hi
              FROM (VALUES (0),(1),(2),(3),(4),(5)) t(k), bounds b),
    truths AS (SELECT p.pred_id,
                      CAST(COALESCE(sum(CASE WHEN h.v >= p.p_lo
                                              AND h.v <= p.p_hi
                                             THEN h.w END), 0) AS BIGINT)
                        AS true_rows
               FROM preds p, h GROUP BY 1),
    est_ew AS (SELECT p.pred_id,
                      sum(CASE WHEN least(p.p_hi, e.v_hi)
                                    >= greatest(p.p_lo, e.v_lo)
                               THEN (CAST(e.n_rows AS HUGEINT)
                                     * (least(p.p_hi, e.v_hi)
                                        - greatest(p.p_lo, e.v_lo) + 1)
                                     * 1000000)
                                    // (e.v_hi - e.v_lo + 1)
                               ELSE 0 END) AS em
               FROM preds p, ew e GROUP BY 1),
    est_vo AS (SELECT p.pred_id,
                      sum(CASE WHEN least(p.p_hi, o.v_hi)
                                    >= greatest(p.p_lo, o.v_lo)
                               THEN (CAST(o.n_rows AS HUGEINT)
                                     * (least(p.p_hi, o.v_hi)
                                        - greatest(p.p_lo, o.v_lo) + 1)
                                     * 1000000)
                                    // (o.v_hi - o.v_lo + 1)
                               ELSE 0 END) AS em
               FROM preds p, vopt o GROUP BY 1)
    SELECT CAST(p.pred_id AS INT) AS pred_id, p.p_lo, p.p_hi,
           t.true_rows,
           CAST(w.em AS DOUBLE) / 1e6 AS est_equiwidth,
           CAST(v.em AS DOUBLE) / 1e6 AS est_voptimal,
           CAST(abs(w.em - CAST(t.true_rows AS HUGEINT) * 1000000)
                AS DOUBLE) / 1e6 AS err_equiwidth,
           CAST(abs(v.em - CAST(t.true_rows AS HUGEINT) * 1000000)
                AS DOUBLE) / 1e6 AS err_voptimal
    FROM preds p JOIN truths t ON t.pred_id = p.pred_id
         JOIN est_ew w ON w.pred_id = p.pred_id
         JOIN est_vo v ON v.pred_id = p.pred_id
    ORDER BY pred_id
    """,
)
def q298_selectivity_audit(spark, sf_dir):
    """Histogram selectivity audit over the integer-gridded event
    value: for 6 deterministic range predicates, TRUE row counts vs
    the uniform-within-bucket estimates from the default equi-width
    histogram and from q293's v-optimal histogram — the
    estimated-vs-actual error a cost model would eat, i.e. the
    readout that justifies storing the better statistics. See
    :func:`maston_spark.profiling.selectivity_audit`."""
    from maston_spark.profiling import selectivity_audit

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value"), 0).cast("long").alias("v")
    )
    return selectivity_audit(ev, "v", n_buckets=4, n_preds=6)


@query(
    "q299_prr_signals",
    oracle="""
    WITH base AS (SELECT source AS item, lang AS event FROM documents
                  WHERE source IS NOT NULL AND lang IS NOT NULL),
    cells AS (SELECT item, event, CAST(count(*) AS BIGINT) AS a
              FROM base GROUP BY 1, 2),
    im AS (SELECT item, CAST(sum(a) AS BIGINT) AS ni FROM cells
           GROUP BY 1),
    em AS (SELECT event, CAST(sum(a) AS BIGINT) AS ne FROM cells
           GROUP BY 1),
    tt AS (SELECT CAST(sum(a) AS BIGINT) AS nt FROM cells),
    j AS (SELECT cells.item, cells.event, cells.a,
                 im.ni - cells.a AS b, em.ne - cells.a AS cc,
                 tt.nt - im.ni - em.ne + cells.a AS d,
                 im.ni, em.ne, tt.nt
          FROM cells JOIN im ON im.item = cells.item
               JOIN em ON em.event = cells.event CROSS JOIN tt
          WHERE cells.a >= 3)
    SELECT item, event, a AS n_item_event, ni AS n_item,
           ne AS n_event, nt AS n_total,
           CASE WHEN cc > 0 THEN
             CAST((2 * CAST(a AS HUGEINT) * (cc + d) * 1000000
                   + CAST(a + b AS HUGEINT) * cc)
                  // (2 * CAST(a + b AS HUGEINT) * cc) AS DOUBLE) / 1e6
           END AS prr,
           CASE WHEN b > 0 AND cc > 0 THEN
             CAST((2 * CAST(a AS HUGEINT) * d * 1000000
                   + CAST(b AS HUGEINT) * cc)
                  // (2 * CAST(b AS HUGEINT) * cc) AS DOUBLE) / 1e6
           END AS ror
    FROM j
    ORDER BY prr DESC NULLS LAST, item, event LIMIT 20
    """,
)
def q299_prr_signals(spark, sf_dir):
    """Disproportionality screen over the corpus reporting table
    (source × language): PRR/ROR per cell vs the rest-of-table
    background — "which sources disproportionately carry which
    languages", the hypothesis-free surveillance scan beside the
    chi-square family's chosen-pair tests. All rationals half-away
    on the micro grid in decimal(38,0). See
    :func:`maston_spark.profiling.disproportionality_signals`."""
    from maston_spark.profiling import disproportionality_signals

    d = load_table(spark, sf_dir, "documents").select("source", "lang")
    return disproportionality_signals(
        d, "source", "lang", min_count=3, top_k=20
    )


@query(
    "q300_ewma_trend",
    oracle="""
    WITH w(rn, wf, ws) AS (VALUES
      (1,500000000,125000000),
      (2,250000000,109375000),
      (3,125000000,95703125),
      (4,62500000,83740234),
      (5,31250000,73272705),
      (6,15625000,64113617),
      (7,7812500,56099415),
      (8,3906250,49086988),
      (9,1953125,42951114),
      (10,976562,37582225),
      (11,488281,32884447),
      (12,244141,28773891),
      (13,122070,25177155),
      (14,61035,22030010),
      (15,30518,19276259),
      (16,15259,16866727),
      (17,7629,14758386),
      (18,3815,12913588),
      (19,1907,11299389),
      (20,954,9886966),
      (21,477,8651095),
      (22,238,7569708),
      (23,119,6623494),
      (24,60,5795558)),
    b AS (SELECT event_type AS series,
                 CAST(round(round(value, 6) * 1e6) AS BIGINT) AS y,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY ts DESC, event_id DESC)
                   AS rn
          FROM events
          WHERE value IS NOT NULL AND event_type IS NOT NULL
            AND ts IS NOT NULL AND event_id IS NOT NULL),
    n AS (SELECT series, CAST(count(*) AS BIGINT) AS n_obs
          FROM b GROUP BY 1),
    s AS (SELECT b.series,
                 sum(CAST(w.wf AS HUGEINT) * b.y) AS fn,
                 sum(CAST(w.wf AS HUGEINT)) AS fd,
                 sum(CAST(w.ws AS HUGEINT) * b.y) AS sn,
                 sum(CAST(w.ws AS HUGEINT)) AS sd
          FROM b JOIN w ON w.rn = b.rn GROUP BY 1),
    m AS (SELECT series,
                 CASE WHEN fn >= 0 THEN (2 * fn + fd) // (2 * fd)
                      ELSE -((2 * (-fn) + fd) // (2 * fd)) END AS fm,
                 CASE WHEN sn >= 0 THEN (2 * sn + sd) // (2 * sd)
                      ELSE -((2 * (-sn) + sd) // (2 * sd)) END AS sm
          FROM s)
    SELECT n.series, n.n_obs,
           CAST(m.fm AS DOUBLE) / 1e6 AS ewma_fast,
           CAST(m.sm AS DOUBLE) / 1e6 AS ewma_slow,
           CAST(m.fm > m.sm AS INT) AS trend
    FROM n JOIN m ON n.series = m.series
    ORDER BY n.series
    """,
)
def q300_ewma_trend(spark, sf_dir):
    """Truncated-EWMA level trend per event type (fast α=0.5 vs slow
    α=0.125 over the last 24 observations by time): where each
    series is running against its own long-run level — the
    smoothing-based drift lens beside the CUSUM changepoint family.
    Decay weights are pre-computed integer nano-lanes mirrored into
    the oracle's VALUES table (the q242 discipline — no in-engine
    float pow), and each EWMA closes as one sign-split half-away
    division of decimal(38,0) sums. See
    :func:`maston_spark.relational.ewma_trend`."""
    from maston_spark.relational import ewma_trend

    wf = (500000000, 250000000, 125000000, 62500000, 31250000, 15625000, 7812500, 3906250, 1953125, 976562, 488281, 244141, 122070, 61035, 30518, 15259, 7629, 3815, 1907, 954, 477, 238, 119, 60)
    ws = (125000000, 109375000, 95703125, 83740234, 73272705, 64113617, 56099415, 49086988, 42951114, 37582225, 32884447, 28773891, 25177155, 22030010, 19276259, 16866727, 14758386, 12913588, 11299389, 9886966, 8651095, 7569708, 6623494, 5795558)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    return ewma_trend(
        ev, "event_type", ["ts", "event_id"], "value", wf, ws
    )


@query(
    "q301_quantile_treatment_effects",
    oracle="""
    WITH e AS (SELECT value AS y,
                      CAST(('0x' || substr(md5('exp:'
                           || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                           % 2 AS INT) AS tr
               FROM events
               WHERE value IS NOT NULL AND user_id IS NOT NULL),
    q AS (SELECT tr, CAST(count(*) AS BIGINT) AS n,
                 quantile_cont(y, 0.25) AS q25,
                 quantile_cont(y, 0.5) AS q50,
                 quantile_cont(y, 0.75) AS q75
          FROM e GROUP BY tr),
    t AS (SELECT * FROM q WHERE tr = 1),
    c AS (SELECT * FROM q WHERE tr = 0)
    SELECT u.quantile, t.n AS n_treated, c.n AS n_control,
           CASE u.quantile WHEN 0.25 THEN t.q25
                WHEN 0.5 THEN t.q50 ELSE t.q75 END AS q_treated,
           CASE u.quantile WHEN 0.25 THEN c.q25
                WHEN 0.5 THEN c.q50 ELSE c.q75 END AS q_control,
           CASE u.quantile WHEN 0.25 THEN t.q25 - c.q25
                WHEN 0.5 THEN t.q50 - c.q50
                ELSE t.q75 - c.q75 END AS qte
    FROM (VALUES (0.25), (0.5), (0.75)) u(quantile), t, c
    ORDER BY u.quantile
    """,
)
def q301_quantile_treatment_effects(spark, sf_dir):
    """Quantile treatment effects of the q294 experiment assignment
    (md5 'exp:' user split) on event value: the treated-vs-control
    distribution gap at the quartiles — the distributional causal
    readout beside the mean-effect family (q221 CUPED / q287 CEM /
    q236 DiD / q292 RD). Each arm's quantiles are exact order
    statistics bit-pinned to quantile_cont. See
    :func:`maston_spark.evaluation.quantile_treatment_effects`."""
    from maston_spark.evaluation import quantile_treatment_effects

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull()
    ).select(
        F.col("value").alias("y"),
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("exp:"),
                F.col("user_id").cast("string"))), 1, 8), 16, 10)
            .cast("long") % 2
        ).cast("int").alias("tr"),
    )
    return quantile_treatment_effects(ev, "tr", "y")


@query(
    "q302_ips_offpolicy",
    oracle="""
    WITH types AS (SELECT a, row_number() OVER (ORDER BY a) - 1 AS idx
                   FROM (SELECT DISTINCT event_type AS a FROM events
                         WHERE event_type IS NOT NULL)),
    kk AS (SELECT count(*) AS k FROM types),
    e AS (SELECT ev.event_type AS a,
                 CAST(round(round(ev.value, 6) * 1e6) AS BIGINT) AS rl,
                 t.a AS tgt
          FROM events ev, kk
               JOIN types t ON t.idx = ev.user_id % kk.k
          WHERE ev.event_type IS NOT NULL AND ev.value IS NOT NULL
            AND ev.user_id IS NOT NULL),
    per AS (SELECT a, CAST(count(*) AS BIGINT) AS na,
                   sum(CASE WHEN a = tgt
                            THEN CAST(rl AS HUGEINT) END) AS num,
                   CAST(sum(CASE WHEN a = tgt THEN 1 ELSE 0 END)
                        AS BIGINT) AS ma
            FROM e GROUP BY a),
    lanes AS (SELECT na, ma,
                     CASE WHEN COALESCE(num, 0) >= 0
                          THEN (2 * COALESCE(num, 0) + na) // (2 * na)
                          ELSE -((2 * (-COALESCE(num, 0)) + na)
                                 // (2 * na)) END AS c,
                     (2 * CAST(ma AS HUGEINT) * 1000000000 + na)
                       // (2 * na) AS w1,
                     (2 * CAST(ma AS HUGEINT) * 1000000000000
                      + CAST(na AS HUGEINT) * na)
                       // (2 * CAST(na AS HUGEINT) * na) AS w2
              FROM per),
    agg AS (SELECT CAST(sum(na) AS BIGINT) AS n,
                   CAST(sum(ma) AS BIGINT) AS n_matched,
                   sum(CAST(c AS HUGEINT)) AS s0,
                   sum(CAST(w1 AS HUGEINT)) AS s1,
                   sum(CAST(w2 AS HUGEINT)) AS s2
            FROM lanes)
    SELECT n, n_matched,
           CAST(s0 AS DOUBLE) / 1e6 AS ips_value,
           CASE WHEN s1 > 0 THEN
             CAST(CASE WHEN s0 >= 0
                       THEN (2 * s0 * 1000000000 + s1) // (2 * s1)
                       ELSE -((2 * (-s0) * 1000000000 + s1)
                              // (2 * s1)) END AS DOUBLE) / 1e6
           END AS snips_value,
           CASE WHEN s2 > 0 THEN
             CAST((2 * s1 * s1 + s2) // (2 * s2) AS DOUBLE) / 1e6
           END AS ess
    FROM agg
    """,
)
def q302_ips_offpolicy(spark, sf_dir):
    """IPS / SNIPS off-policy value of a deterministic target policy
    (recommend the event type indexed by user_id mod |types|) from
    the logged event stream, with plug-in marginal propensities and
    the effective-sample-size diagnostic — the counterfactual "what
    would that policy have earned" readout an RLHF/bandit data
    pipeline runs before an online test. See
    :func:`maston_spark.evaluation.ips_offpolicy_value`."""
    from maston_spark.evaluation import ips_offpolicy_value
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    types = (
        ev.select(F.col("event_type").alias("a"))
        .distinct()
        .select(
            "a",
            (F.row_number().over(W.orderBy("a")) - 1).alias("idx"),
        )
    )  # |event types| rows — the partition-less window is bounded
    k = types.count()
    tagged = ev.join(
        F.broadcast(types),
        F.pmod(F.col("user_id"), F.lit(k)) == F.col("idx"),
    ).select(
        "event_type",
        "value",
        F.col("a").alias("__tgt"),
    )
    return ips_offpolicy_value(tagged, "event_type", "value", "__tgt")


@query(
    "q305_encoding_advisor",
    oracle="""
    WITH base AS (
      SELECT l_orderkey AS ok, l_linenumber AS ln, 'l_returnflag' AS col,
             COALESCE(CAST(l_returnflag AS VARCHAR), '') AS v FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_linestatus',
             COALESCE(CAST(l_linestatus AS VARCHAR), '') FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_shipdate',
             COALESCE(CAST(l_shipdate AS VARCHAR), '') FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_suppkey',
             COALESCE(CAST(l_suppkey AS VARCHAR), '') FROM lineitem),
    r AS (SELECT col, v,
                 CASE WHEN lag(v) OVER (PARTITION BY col
                                        ORDER BY ok, ln, v)
                           IS DISTINCT FROM v THEN 1 ELSE 0 END AS head
          FROM base),
    agg AS (SELECT col, CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(len(v)) AS BIGINT) AS sl,
                   CAST(sum(head) AS BIGINT) AS n_runs,
                   CAST(COALESCE(sum(CASE WHEN head = 1
                                          THEN len(v) END), 0) AS BIGINT)
                     AS rl
            FROM r GROUP BY 1),
    dist AS (SELECT col, CAST(count(*) AS BIGINT) AS n_distinct,
                    CAST(sum(len(v)) AS BIGINT) AS dl
             FROM (SELECT DISTINCT col, v FROM base) GROUP BY 1),
    j AS (SELECT agg.col AS "column", n_rows, n_distinct, n_runs,
                 sl + n_rows AS plain_bytes,
                 dl + n_distinct + n_rows *
                   (CASE WHEN n_distinct <= 256 THEN 1
                         WHEN n_distinct <= 65536 THEN 2
                         WHEN n_distinct <= 4294967296 THEN 4
                         ELSE 8 END) AS dict_bytes,
                 rl + 5 * n_runs AS rle_bytes
          FROM agg JOIN dist ON dist.col = agg.col)
    SELECT "column", n_rows, n_distinct, n_runs,
           plain_bytes, dict_bytes, rle_bytes,
           CASE WHEN dict_bytes <= plain_bytes
                 AND dict_bytes <= rle_bytes THEN 'dict'
                WHEN rle_bytes <= plain_bytes THEN 'rle'
                ELSE 'plain' END AS best_encoding
    FROM j ORDER BY "column"
    """,
)
def q305_encoding_advisor(spark, sf_dir):
    """Columnar encoding advisor over four lineitem columns (two
    low-cardinality flags, a date, a key) under the table's natural
    (orderkey, linenumber)
    order: exact plain/dict/RLE byte costs and the winner — the
    storage-side physical-design statistic beside the compaction
    planner (q219), z-order layout (q205) and optimizer histograms
    (q293/q298). See
    :func:`maston_spark.profiling.encoding_advisor`."""
    from maston_spark.profiling import encoding_advisor

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        "l_returnflag", "l_linestatus", "l_shipdate", "l_suppkey",
    )
    return encoding_advisor(
        li,
        ["l_returnflag", "l_linestatus", "l_shipdate", "l_suppkey"],
        ["l_orderkey", "l_linenumber"],
    )


@query(
    "q306_dbscan",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT c_custkey AS i,
             ('0x' || substr(md5('px:' || CAST(c_custkey AS VARCHAR)),
                             1, 8))::BIGINT % 262144 AS x,
             ('0x' || substr(md5('py:' || CAST(c_custkey AS VARCHAR)),
                             1, 8))::BIGINT % 262144 AS y
      FROM customer),
    dxy AS (SELECT a.dx, b.dy
            FROM (SELECT unnest(range(-1, 2)) AS dx) a,
                 (SELECT unnest(range(-1, 2)) AS dy) b),
    stamped AS (SELECT p.i AS ia, p.x AS xa, p.y AS ya,
                       (p.x // 4096) + dx AS kx, (p.y // 4096) + dy AS ky
                FROM p, dxy),
    rgt AS (SELECT i AS ib, x AS xb, y AS yb,
                   x // 4096 AS kx, y // 4096 AS ky
            FROM p),
    pairs AS (
      SELECT ia AS a, ib AS b
      FROM stamped JOIN rgt USING (kx, ky)
      WHERE ia < ib
        AND (xa - xb) * (xa - xb) + (ya - yb) * (ya - yb)
              <= 4096 * 4096),
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS d
            FROM (SELECT a AS id FROM pairs
                  UNION ALL SELECT b FROM pairs)
            GROUP BY id),
    marked AS (SELECT p.i AS id,
                      COALESCE(deg.d, 0) + 1 >= 3 AS core
               FROM p LEFT JOIN deg ON deg.id = p.i),
    cores AS (SELECT id FROM marked WHERE core),
    ce AS (SELECT a, b FROM pairs
           WHERE a IN (SELECT id FROM cores)
             AND b IN (SELECT id FROM cores)),
    symce AS (SELECT a, b FROM ce UNION SELECT b, a FROM ce),
    reach AS (
      SELECT id, id AS r FROM cores
      UNION
      SELECT s.b AS id, reach.r FROM reach JOIN symce s ON s.a = reach.id),
    cc AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
    sym AS (SELECT a AS id, b AS nb FROM pairs
            UNION ALL SELECT b, a FROM pairs),
    border AS (
      SELECT m.id, min(cc.cluster) AS cluster
      FROM marked m JOIN sym ON sym.id = m.id
           JOIN cc ON cc.id = sym.nb
      WHERE NOT m.core GROUP BY m.id),
    allp AS (SELECT id, cluster, 1 AS c FROM cc
             UNION ALL SELECT id, cluster, 0 FROM border),
    summary AS (SELECT cluster, CAST(sum(c) AS BIGINT) AS n_core,
                       CAST(sum(1 - c) AS BIGINT) AS n_border,
                       CAST(count(*) AS BIGINT) AS n_points
                FROM allp GROUP BY cluster),
    noise AS (SELECT -1 AS cluster, CAST(0 AS BIGINT) AS n_core,
                     CAST(0 AS BIGINT) AS n_border,
                     CAST((SELECT count(*) FROM p)
                          - (SELECT count(*) FROM allp) AS BIGINT)
                       AS n_points)
    SELECT * FROM summary UNION ALL SELECT * FROM noise
    ORDER BY cluster
    """,
)
def q306_dbscan(spark, sf_dir):
    """Grid-blocked DBSCAN over customers on a 2¹⁸×2¹⁸ md5 plane
    (ε=4096, min_pts=3): density clusters with deterministic border
    assignment (min competing cluster id) — the arbitrary-shape
    clustering member beside q119's k-means, composed from the
    graded grid-radius join and connected components. See
    :func:`maston_spark.relational.dbscan_clusters`."""
    from maston_spark.relational import dbscan_clusters

    c = load_table(spark, sf_dir, "customer")

    def lane(prefix):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit(prefix), F.col("c_custkey").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 262144
        )

    pts = c.select(
        F.col("c_custkey").alias("i"),
        lane("px:").alias("x"),
        lane("py:").alias("y"),
    )
    return dbscan_clusters(pts, "i", "x", "y", eps=4096, min_pts=3)


@query(
    "q307_join_order_plan",
    oracle="""
    WITH s AS (
      SELECT (SELECT count(*) FROM customer) AS nc,
             (SELECT count(DISTINCT c_custkey) FROM customer) AS dcc,
             (SELECT count(*) FROM orders) AS no_,
             (SELECT count(DISTINCT o_custkey) FROM orders) AS doc,
             (SELECT count(DISTINCT o_orderkey) FROM orders) AS doo,
             (SELECT count(*) FROM lineitem) AS nl,
             (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS dlo,
             (SELECT count(DISTINCT l_suppkey) FROM lineitem) AS dls,
             (SELECT count(*) FROM supplier) AS ns,
             (SELECT count(DISTINCT s_suppkey) FROM supplier) AS dss),
    costs AS (
      SELECT 'customer>orders>lineitem>supplier' AS join_order,
             nc * no_ // greatest(dcc, doc) AS e2,
             (nc * no_ // greatest(dcc, doc)) * nl
               // greatest(doo, dlo) AS e3,
             ((nc * no_ // greatest(dcc, doc)) * nl
               // greatest(doo, dlo)) * ns // greatest(dls, dss) AS e4
      FROM s
      UNION ALL
      SELECT 'orders>customer>lineitem>supplier',
             no_ * nc // greatest(doc, dcc),
             (no_ * nc // greatest(doc, dcc)) * nl
               // greatest(doo, dlo),
             ((no_ * nc // greatest(doc, dcc)) * nl
               // greatest(doo, dlo)) * ns // greatest(dls, dss)
      FROM s
      UNION ALL
      SELECT 'orders>lineitem>customer>supplier',
             no_ * nl // greatest(doo, dlo),
             (no_ * nl // greatest(doo, dlo)) * nc
               // greatest(doc, dcc),
             ((no_ * nl // greatest(doo, dlo)) * nc
               // greatest(doc, dcc)) * ns // greatest(dls, dss)
      FROM s
      UNION ALL
      SELECT 'orders>lineitem>supplier>customer',
             no_ * nl // greatest(doo, dlo),
             (no_ * nl // greatest(doo, dlo)) * ns
               // greatest(dls, dss),
             ((no_ * nl // greatest(doo, dlo)) * ns
               // greatest(dls, dss)) * nc // greatest(doc, dcc)
      FROM s
      UNION ALL
      SELECT 'lineitem>orders>customer>supplier',
             nl * no_ // greatest(dlo, doo),
             (nl * no_ // greatest(dlo, doo)) * nc
               // greatest(doc, dcc),
             ((nl * no_ // greatest(dlo, doo)) * nc
               // greatest(doc, dcc)) * ns // greatest(dls, dss)
      FROM s
      UNION ALL
      SELECT 'lineitem>orders>supplier>customer',
             nl * no_ // greatest(dlo, doo),
             (nl * no_ // greatest(dlo, doo)) * ns
               // greatest(dls, dss),
             ((nl * no_ // greatest(dlo, doo)) * ns
               // greatest(dls, dss)) * nc // greatest(doc, dcc)
      FROM s
      UNION ALL
      SELECT 'lineitem>supplier>orders>customer',
             nl * ns // greatest(dls, dss),
             (nl * ns // greatest(dls, dss)) * no_
               // greatest(dlo, doo),
             ((nl * ns // greatest(dls, dss)) * no_
               // greatest(dlo, doo)) * nc // greatest(doc, dcc)
      FROM s
      UNION ALL
      SELECT 'supplier>lineitem>orders>customer',
             ns * nl // greatest(dss, dls),
             (ns * nl // greatest(dss, dls)) * no_
               // greatest(dlo, doo),
             ((ns * nl // greatest(dss, dls)) * no_
               // greatest(dlo, doo)) * nc // greatest(doc, dcc)
      FROM s)
    SELECT CAST(row_number() OVER (ORDER BY e2 + e3 + e4, join_order)
                AS INT) AS rank,
           join_order,
           CAST(e2 + e3 + e4 AS BIGINT) AS est_cost,
           CAST(e4 AS BIGINT) AS est_final_rows
    FROM costs
    ORDER BY rank
    """,
)
def q307_join_order_plan(spark, sf_dir):
    """Selinger-lite left-deep join-order enumeration over the
    customer–orders–lineitem–supplier chain: all 8 connected orders
    priced by the containment estimator off one stats pass per
    table, cheapest first — the optimizer trilogy's third member
    (q217 prices one join, q298 audits the histograms, this picks
    the order the statistics exist for). See
    :func:`maston_spark.relational.join_order_plan`."""
    from maston_spark.relational import join_order_plan

    return join_order_plan(
        {
            "customer": load_table(spark, sf_dir, "customer"),
            "orders": load_table(spark, sf_dir, "orders"),
            "lineitem": load_table(spark, sf_dir, "lineitem"),
            "supplier": load_table(spark, sf_dir, "supplier"),
        },
        [
            ("customer", "orders", "c_custkey", "o_custkey"),
            ("orders", "lineitem", "o_orderkey", "l_orderkey"),
            ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
        ],
    )


@query(
    "q308_nelson_aalen",
    oracle="""
    WITH u AS (SELECT user_id, CAST(min(ts) AS DATE) AS d0,
                      CAST(max(ts) AS DATE) AS d1, max(ts) AS last_ts
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
               GROUP BY user_id),
    cut AS (SELECT max(last_ts) - INTERVAL 7 DAY AS co FROM u),
    subj AS (SELECT date_diff('day', d0, d1) AS t,
                    CASE WHEN last_ts <= co THEN 1 ELSE 0 END AS e
             FROM u, cut),
    per AS (SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
                   CAST(count(*) - sum(e) AS BIGINT) AS n_censored
            FROM subj GROUP BY t),
    tot AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n
            FROM per),
    r AS (SELECT t, n_events, n_censored,
                 CAST(n - COALESCE(sum(n_events + n_censored) OVER
                       (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM per, tot),
    lanes AS (SELECT t, n_risk, n_events, n_censored,
                     (2 * CAST(n_events AS HUGEINT) * 1000000000
                      + n_risk) // (2 * n_risk) AS h,
                     (2 * CAST(n_events AS HUGEINT) * 1000000000000
                      + CAST(n_risk AS HUGEINT) * n_risk)
                       // (2 * CAST(n_risk AS HUGEINT) * n_risk) AS v
              FROM r)
    SELECT t, n_risk, n_events, n_censored,
           CAST(sum(h) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 1e9 AS cum_hazard,
           CAST(sum(v) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                             PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 1e12 AS cum_hazard_var
    FROM lanes ORDER BY t
    """,
)
def q308_nelson_aalen(spark, sf_dir):
    """Nelson-Aalen cumulative hazard of user-activity lifetimes
    (q246's frame: days from first to last event, right-censored in
    the final week): the additive-hazard companion to the KM curve —
    PURE RATIONAL (nano/pico half-away lanes, no ln/exp replay),
    with the Poisson-type Σd/n² variance. See
    :func:`maston_spark.evaluation.nelson_aalen`."""
    from maston_spark.evaluation import nelson_aalen

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("__d0"),
        F.max(F.to_date("ts")).alias("__d1"),
        F.max("ts").alias("__last"),
    )
    cut = u.agg(
        (F.max("__last") - F.expr("INTERVAL 7 DAYS")).alias("__co")
    )
    subj = u.join(F.broadcast(cut)).select(
        F.datediff("__d1", "__d0").alias("dur"),
        (F.col("__last") <= F.col("__co")).cast("int").alias("evt"),
    )
    return nelson_aalen(subj, "dur", "evt")


@query(
    "q309_aalen_johansen",
    oracle="""
    WITH u AS (SELECT user_id, min(ts) AS t0,
                      min(CASE WHEN event_type = 'purchase' THEN ts END)
                        AS p0,
                      min(CASE WHEN event_type = 'error' THEN ts END) AS e0
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
               GROUP BY user_id),
    s AS (SELECT 24 + (user_id % 5) * 12 AS hz,
                 date_diff('hour', t0, p0) AS tp,
                 date_diff('hour', t0, e0) AS te
          FROM u),
    subj AS (SELECT CASE
                 WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
                      AND tp <= hz THEN tp
                 WHEN te IS NOT NULL AND (tp IS NULL OR te < tp)
                      AND te <= hz THEN te
                 ELSE hz END AS t,
               CASE
                 WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
                      AND tp <= hz THEN 1
                 WHEN te IS NOT NULL AND (tp IS NULL OR te < tp)
                      AND te <= hz THEN 2
                 ELSE 0 END AS k
             FROM s),
    per AS (SELECT t, CAST(count(*) AS BIGINT) AS m,
                   CAST(sum(CASE WHEN k > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS d_all
            FROM subj GROUP BY t),
    perk AS (SELECT t, k AS cause, CAST(count(*) AS BIGINT) AS dk
             FROM subj WHERE k > 0 GROUP BY t, k),
    tot AS (SELECT CAST(sum(m) AS BIGINT) AS n FROM per),
    r AS (SELECT t, d_all,
                 CAST(n - COALESCE(sum(m) OVER
                       (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM per, tot),
    lg AS (SELECT t, n_risk, d_all,
                  CASE WHEN d_all < n_risk
                       THEN round(ln(1.0 - CAST(d_all AS DOUBLE)
                                          / CAST(n_risk AS DOUBLE)), 9)
                  END AS l
           FROM r),
    st AS (SELECT t, n_risk,
                  COALESCE(max(CASE WHEN l IS NULL THEN 1 ELSE 0 END)
                    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS deadp,
                  sum(l) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                               PRECEDING AND 1 PRECEDING) AS slg
           FROM lg),
    s9t AS (SELECT t, n_risk,
                   CASE WHEN deadp = 1 THEN CAST(0 AS BIGINT)
                        ELSE CAST(round(exp(COALESCE(slg, 0.0)) * 1e9)
                                  AS BIGINT) END AS s9
            FROM st),
    causes AS (SELECT DISTINCT k AS cause FROM subj WHERE k > 0),
    grid AS (SELECT s9t.t, causes.cause, s9t.n_risk, s9t.s9
             FROM s9t CROSS JOIN causes),
    g2 AS (SELECT grid.t, grid.cause, grid.n_risk, grid.s9,
                  COALESCE(perk.dk, 0) AS dk
           FROM grid LEFT JOIN perk
             ON perk.t = grid.t AND perk.cause = grid.cause),
    inc AS (SELECT t, cause, n_risk, dk,
                   (2 * CAST(s9 AS HUGEINT) * dk * 1000 + n_risk)
                     // (2 * n_risk) AS pico
            FROM g2)
    SELECT t, cause, n_risk, CAST(dk AS BIGINT) AS n_events,
           CAST(sum(pico) OVER (PARTITION BY cause ORDER BY t
                                ROWS BETWEEN UNBOUNDED PRECEDING AND
                                CURRENT ROW) AS DOUBLE) / 1e12 AS cif
    FROM inc ORDER BY t, cause
    """,
)
def q309_aalen_johansen(spark, sf_dir):
    """Aalen-Johansen cumulative incidence of the user journey's
    COMPETING first outcomes: from each user's first event, does a
    PURCHASE (cause 1) or an ERROR (cause 2) arrive first — in
    hours, under a staggered follow-up horizon of 24 + (user_id %
    5)·12 hours, administratively censored (cause 0) when neither
    lands inside the window; an hour where both land ties to cause 1
    (documented min-cause rule). CIF₁(t) is "probability a user has
    converted by hour t" CORRECTLY discounted for users errors
    claimed first — the partition 1−KM-per-cause over-counts. See
    :func:`maston_spark.evaluation.aalen_johansen`."""
    from maston_spark.evaluation import aalen_johansen

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("__t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "__p0"
        ),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias(
            "__e0"
        ),
    )
    hz = (F.lit(24) + (F.col("user_id") % 5) * 12).cast("long")
    # date_diff('hour', a, b): whole-hour boundary count, replayed
    # as epoch-hour difference (both engines truncate to the hour)
    tp = (
        F.floor(F.unix_timestamp("__p0") / 3600)
        - F.floor(F.unix_timestamp("__t0") / 3600)
    ).cast("long")
    te = (
        F.floor(F.unix_timestamp("__e0") / 3600)
        - F.floor(F.unix_timestamp("__t0") / 3600)
    ).cast("long")
    s = u.select(
        hz.alias("__hz"), tp.alias("__tp"), te.alias("__te")
    )
    p_first = F.col("__tp").isNotNull() & (
        F.col("__te").isNull() | (F.col("__tp") <= F.col("__te"))
    )
    e_first = F.col("__te").isNotNull() & (
        F.col("__tp").isNull() | (F.col("__te") < F.col("__tp"))
    )
    subj = s.select(
        F.when(p_first & (F.col("__tp") <= F.col("__hz")), F.col("__tp"))
        .when(e_first & (F.col("__te") <= F.col("__hz")), F.col("__te"))
        .otherwise(F.col("__hz"))
        .alias("dur"),
        F.when(p_first & (F.col("__tp") <= F.col("__hz")), 1)
        .when(e_first & (F.col("__te") <= F.col("__hz")), 2)
        .otherwise(0)
        .alias("cause"),
    )
    return aalen_johansen(subj, "dur", "cause")


@query(
    "q310_shapley_attribution",
    oracle="""
    WITH d AS (SELECT user_id, event_type FROM events
               WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
    convu AS (SELECT user_id,
                     max(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) AS conv
              FROM d GROUP BY user_id),
    tch AS (SELECT DISTINCT user_id, event_type AS c FROM d
            WHERE event_type <> 'purchase'),
    chan AS (SELECT c, CAST(row_number() OVER (ORDER BY c) - 1 AS BIGINT)
                    AS i
             FROM (SELECT DISTINCT c FROM tch)),
    nu AS (SELECT CAST(count(*) AS BIGINT) AS u FROM chan),
    umask AS (SELECT t.user_id, CAST(sum(1 << chan.i) AS BIGINT) AS m
              FROM tch t JOIN chan ON chan.c = t.c
              GROUP BY t.user_id),
    setc AS (SELECT m, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(conv) AS BIGINT) AS k
             FROM umask JOIN convu ON convu.user_id = umask.user_id
             GROUP BY m),
    masks AS (SELECT CAST(unnest(range(0, 1 << u)) AS BIGINT) AS T
              FROM nu),
    v AS (SELECT masks.T,
                 CAST(COALESCE(sum(setc.k), 0) AS BIGINT) AS v
          FROM masks LEFT JOIN setc ON (setc.m & masks.T) = setc.m
          GROUP BY masks.T),
    marg AS (SELECT chan.c, CAST(sum(
                 factorial(CAST(bit_count(v0.T) AS INTEGER))
                 * factorial(CAST(u - 1 - bit_count(v0.T) AS INTEGER))
                 * (v1.v - v0.v)) AS HUGEINT) AS phi
             FROM chan, nu, v v0
             JOIN v v1 ON TRUE
             WHERE (v0.T & (1 << chan.i)) = 0
               AND v1.T = (v0.T | (1 << chan.i))
             GROUP BY chan.c),
    chanstat AS (SELECT chan.c,
                        CAST(count(*) AS BIGINT) AS n_sets,
                        CAST(sum(setc.n) AS BIGINT) AS n_users,
                        CAST(sum(setc.k) AS BIGINT) AS n_conversions
                 FROM chan JOIN setc ON (setc.m & (1 << chan.i)) <> 0
                 GROUP BY chan.c)
    SELECT marg.c AS channel, chanstat.n_sets, chanstat.n_users,
           chanstat.n_conversions,
           CAST((2 * marg.phi * 1000000
                 + factorial(CAST(u AS INTEGER)))
                // (2 * factorial(CAST(u AS INTEGER))) AS DOUBLE)
             / 1e6 AS shapley
    FROM marg JOIN chanstat ON chanstat.c = marg.c, nu
    ORDER BY channel
    """,
)
def q310_shapley_attribution(spark, sf_dir):
    """Shapley conversion credit across the four non-purchase
    channels (click / error / signup / view): each user's distinct
    touched-channel set, conversion = the user ever purchased,
    count-based coalition worth v(T) = conversions by users whose
    whole set fits in T, factorial-weighted marginal DP over the
    2⁴ subsets in exact integers — the principled split beside
    q193's last-touch (which hands the whole conversion to the
    final touch). See
    :func:`maston_spark.relational.shapley_attribution`."""
    from maston_spark.relational import shapley_attribution

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    conv = ev.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        )
    )
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .select("user_id", F.col("event_type").alias("channel"))
        .join(conv, "user_id")
    )
    return shapley_attribution(
        touches, "user_id", "channel", "converted"
    )


def _q311_oracle() -> str:
    """Chained peel rounds as MATERIALIZED CTEs — without the
    MATERIALIZED hint DuckDB re-inlines each round into every
    reference and the chain re-evaluates exponentially (measured:
    a 6-round chain on 6k edges ran >120 s inlined, 0.04 s
    materialized). The q306 recursive-CTE lesson's sibling: bounded
    chains are the right oracle shape, but they must materialize."""
    k, rounds = 7, 6
    sql = """
    WITH p0 AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS a, l_partkey + 10000000 AS b
      FROM lineitem
      WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL)"""
    for r in range(1, rounds + 1):
        sql += f""",
    d{r} AS MATERIALIZED (
      SELECT id, count(*) AS c
      FROM (SELECT a AS id FROM p{r-1}
            UNION ALL SELECT b FROM p{r-1})
      GROUP BY id),
    k{r} AS MATERIALIZED (SELECT id FROM d{r} WHERE c >= {k}),
    p{r} AS MATERIALIZED (
      SELECT a, b FROM p{r-1}
      WHERE a IN (SELECT id FROM k{r})
        AND b IN (SELECT id FROM k{r}))"""
    stages = " UNION ALL ".join(
        f"""SELECT {r} AS round,
            (SELECT count(*) FROM
              (SELECT a AS id FROM p{r} UNION SELECT b FROM p{r}))
              AS n_vertices,
            (SELECT count(*) FROM p{r}) AS n_edges"""
        for r in range(1, rounds + 1)
    )
    sql += f""",
    u AS ({stages})
    SELECT CAST(round AS INT) AS round,
           CAST(n_vertices AS BIGINT) AS n_vertices,
           CAST(n_edges AS BIGINT) AS n_edges,
           COALESCE(n_edges = lag(n_edges) OVER (ORDER BY round),
                    FALSE) AS converged
    FROM u ORDER BY round"""
    return sql


@query("q311_k_core", oracle=_q311_oracle())
def q311_k_core(spark, sf_dir):
    """7-core peeling census of the order–part incidence graph
    (orders keep ≥7 distinct parts, parts stay in ≥7 surviving
    orders): the cascade census — TPC-H order baskets cap at 7
    items, so the 7-core demands maximal baskets of co-popular
    parts and the graph collapses over a few rounds, each round's
    shrink measuring how much of the previous core was propped up
    by just-deleted neighbors. Fixed 6 rounds, chained-CTE oracle
    (never recursive). See :func:`maston_spark.graph.k_core`."""
    from maston_spark.graph import k_core

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    ).select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_partkey") + F.lit(10000000)).alias("dst"),
    )
    return k_core(li, k=7, rounds=6)


@query(
    "q312_zone_map_audit",
    oracle="""
    WITH d AS (SELECT date_diff('day', DATE '1970-01-01',
                                CAST(l_shipdate AS DATE)) AS shipd,
                      CAST(l_quantity AS BIGINT) AS qty,
                      l_suppkey, l_orderkey, l_linenumber
               FROM lineitem
               WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
                 AND l_suppkey IS NOT NULL AND l_orderkey IS NOT NULL
                 AND l_linenumber IS NOT NULL),
    r1 AS (SELECT *, row_number() OVER
             (ORDER BY shipd, l_orderkey, l_linenumber) AS rn FROM d),
    z1 AS (SELECT (rn - 1) // 256 AS z,
                  min(shipd) AS lo_shipd, max(shipd) AS hi_shipd,
                  min(qty) AS lo_qty, max(qty) AS hi_qty,
                  min(l_suppkey) AS lo_sk, max(l_suppkey) AS hi_sk
           FROM r1 GROUP BY 1),
    r2 AS (SELECT *, row_number() OVER
             (ORDER BY l_suppkey, l_orderkey, l_linenumber) AS rn FROM d),
    z2 AS (SELECT (rn - 1) // 256 AS z,
                  min(shipd) AS lo_shipd, max(shipd) AS hi_shipd,
                  min(qty) AS lo_qty, max(qty) AS hi_qty,
                  min(l_suppkey) AS lo_sk, max(l_suppkey) AS hi_sk
           FROM r2 GROUP BY 1),
    stats AS (
      SELECT 'shipd' AS order_col, 'shipd' AS pred_col,
             CAST(9500 AS BIGINT) AS lo, CAST(9865 AS BIGINT) AS hi,
             CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(CASE WHEN hi_shipd >= 9500 AND lo_shipd <= 9865
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_read
      FROM z1
      UNION ALL
      SELECT 'shipd', 'qty', 10, 20, CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN hi_qty >= 10 AND lo_qty <= 20
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM z1
      UNION ALL
      SELECT 'shipd', 'l_suppkey', 0, 3, CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN hi_sk >= 0 AND lo_sk <= 3
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM z1
      UNION ALL
      SELECT 'l_suppkey', 'shipd', 9500, 9865, CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN hi_shipd >= 9500 AND lo_shipd <= 9865
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM z2
      UNION ALL
      SELECT 'l_suppkey', 'qty', 10, 20, CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN hi_qty >= 10 AND lo_qty <= 20
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM z2
      UNION ALL
      SELECT 'l_suppkey', 'l_suppkey', 0, 3, CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN hi_sk >= 0 AND lo_sk <= 3
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM z2)
    SELECT order_col, pred_col, lo, hi, n_blocks, n_read,
           round(1.0 - n_read / n_blocks, 6) AS skipped_frac
    FROM stats ORDER BY order_col, pred_col, lo
    """,
)
def q312_zone_map_audit(spark, sf_dir):
    """Zone-map skipping audit of lineitem under two candidate sort
    orders (ship-date vs supplier) against a three-predicate
    workload (a ship-year window, a quantity band, a supplier
    range), 256-row zones: sorting by ship-date makes the date
    predicate skip almost everything and leaves the quantity band
    reading every zone — the measured skipping matrix a 100 TB
    layout decision needs, beside q205's z-order writer and q305's
    encoding bill. See
    :func:`maston_spark.profiling.zone_map_audit`."""
    from maston_spark.profiling import zone_map_audit

    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
        & F.col("l_quantity").isNotNull()
        & F.col("l_suppkey").isNotNull()
        & F.col("l_orderkey").isNotNull()
        & F.col("l_linenumber").isNotNull()
    ).select(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("shipd"),
        F.col("l_quantity").cast("long").alias("qty"),
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
    )
    return zone_map_audit(
        li,
        order_candidates=["shipd", "l_suppkey"],
        tiebreak_cols=["l_orderkey", "l_linenumber"],
        predicates=[
            ("shipd", 9500, 9865),
            ("qty", 10, 20),
            ("l_suppkey", 0, 3),
        ],
        block_rows=256,
    )


def _q313_field_sql(field: str, m: float) -> str:
    """One Fellegi-Sunter field row: exact u lane + the two log2
    weights off the shared rounded u (per-field m constants are the
    documented caller parameters, mirrored in the Spark query)."""
    return f"""
      SELECT '{field}' AS field,
             CAST(sum(f) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST((2 * CAST(sum(f * (f - 1)) AS HUGEINT) * 1000000
                   + CAST(sum(f) AS HUGEINT) * (sum(f) - 1))
                  // greatest(2 * CAST(sum(f) AS HUGEINT)
                              * (sum(f) - 1), 1) AS DOUBLE) / 1e6
               AS u_prob
      FROM (SELECT v, CAST(count(*) AS BIGINT) AS f
            FROM (SELECT {field} AS v FROM base
                  WHERE {field} IS NOT NULL)
            GROUP BY v)"""


@query(
    "q313_fs_linkage",
    oracle="""
    WITH base AS (
      SELECT CAST(c_nationkey AS VARCHAR) AS nation,
             c_mktsegment AS segment,
             substr(c_name, length(c_name) - 2, 3) AS name3,
             CAST(CAST(floor(c_acctbal / 100) AS BIGINT) AS VARCHAR)
               AS bal100
      FROM customer),
    u AS (""" + " UNION ALL ".join(
        _q313_field_sql(f, m)
        for f, m in [
            ("bal100", 0.85),
            ("nation", 0.95),
            ("name3", 0.98),
            ("segment", 0.9),
        ]
    ) + """),
    m AS (SELECT 'bal100' AS field, 0.85 AS mv UNION ALL
          SELECT 'nation', 0.95 UNION ALL
          SELECT 'name3', 0.98 UNION ALL
          SELECT 'segment', 0.9)
    SELECT u.field, n_rows, n_distinct, u_prob,
           CASE WHEN u_prob > 0
                THEN round(log2(mv / u_prob), 6) END AS w_agree,
           CASE WHEN u_prob < 1
                THEN round(log2((1 - mv) / (1 - u_prob)), 6)
           END AS w_disagree
    FROM u JOIN m ON m.field = u.field
    ORDER BY u.field
    """,
)
def q313_fs_linkage(spark, sf_dir):
    """Fellegi-Sunter linkage weights over four customer comparison
    fields (account-balance hundred, nation, name suffix, market
    segment): the u-probabilities estimated EXACTLY from value
    frequencies show why a name-suffix agreement is decisive
    evidence (u ≈ 0.1%) while a segment agreement is nearly none
    (u ≈ 20%) — the pairing-decision half of the data-integration
    family beside q251's survivorship. m constants documented
    (0.85/0.95/0.98/0.9). See
    :func:`maston_spark.relational.fs_linkage_weights`."""
    from maston_spark.relational import fs_linkage_weights

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("string").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.expr("substr(c_name, length(c_name) - 2, 3)").alias("name3"),
        F.floor(F.col("c_acctbal") / 100)
        .cast("long")
        .cast("string")
        .alias("bal100"),
    )
    return fs_linkage_weights(
        c,
        fields=["bal100", "nation", "name3", "segment"],
        m_probs={
            "bal100": 0.85,
            "nation": 0.95,
            "name3": 0.98,
            "segment": 0.9,
        },
    )


@query(
    "q314_ams_prefix",
    oracle="""
    WITH ls AS (SELECT unnest(range(0, 16)) AS l),
    la AS (SELECT l, CAST(sum(CASE WHEN substring(
                 md5(o_orderkey::VARCHAR), 17 + l, 1) >= '8'
               THEN 1 ELSE -1 END) AS BIGINT) AS t
           FROM orders, ls WHERE o_orderkey IS NOT NULL GROUP BY l),
    lb AS (SELECT l, CAST(sum(CASE WHEN substring(
                 md5(l_orderkey::VARCHAR), 17 + l, 1) >= '8'
               THEN 1 ELSE -1 END) AS BIGINT) AS t
           FROM lineitem, ls WHERE l_orderkey IS NOT NULL GROUP BY l),
    d AS (SELECT CAST(sum(la.t * lb.t) AS BIGINT) AS dt
          FROM la JOIN lb ON lb.l = la.l),
    n AS (SELECT
            (SELECT CAST(count(o_orderkey) AS BIGINT) FROM orders) AS n_a,
            (SELECT CAST(count(l_orderkey) AS BIGINT) FROM lineitem)
              AS n_b)
    SELECT n_a, n_b, CAST(dt AS DOUBLE) / 16.0 AS est_join_size
    FROM n, d
    """,
)
def q314_ams_prefix(spark, sf_dir):
    """ELEVENTH topology's fold-identity twin: the streaming
    join-size monitor's AMS lane totals replayed as a 3-batch
    additive fold (both sides split by key % 3) with the SAME
    :func:`maston_spark.sketches.sum_counts` the topology calls, and
    closed with the
    SAME :func:`maston_spark.sketches.ams_join_from_totals` the
    topology emits — the incremental-equals-one-shot claim graded
    cross-engine against the one-shot lane SQL: ±1 sums fold with
    ZERO error term, so the streamed estimate is bit-identical to
    the batch estimate, completing the topology-twin matrix for the
    optimizer family (q217 prices the join once; the monitor keeps
    the price current per micro-batch)."""
    from maston_spark.sketches import (
        ams_join_from_totals,
        ams_lane_totals,
        sum_counts,
    )

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey").isNotNull()
    ).select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey").isNotNull()
    ).select("l_orderkey")
    folded = None
    for b in range(3):
        t = ams_lane_totals(
            o.filter(F.pmod(F.col("o_orderkey"), F.lit(3)) == b),
            "o_orderkey",
            "a",
        ).unionByName(
            ams_lane_totals(
                li.filter(F.pmod(F.col("l_orderkey"), F.lit(3)) == b),
                "l_orderkey",
                "b",
            )
        )
        folded = sum_counts(
            t, folded, ["side"], ["n"] + [f"t{l}" for l in range(16)]
        )
    return ams_join_from_totals(folded, 16)


@query(
    "q315_rmst",
    oracle="""
    WITH u AS (SELECT user_id, min(ts) AS t0,
                      min(CASE WHEN event_type = 'purchase' THEN ts END)
                        AS p0,
                      min(CASE WHEN event_type = 'error' THEN ts END) AS e0
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
               GROUP BY user_id),
    s0 AS (SELECT 24 + (user_id % 5) * 12 AS hz,
                  date_diff('hour', t0, p0) AS tp,
                  date_diff('hour', t0, e0) AS te
           FROM u),
    subj AS (SELECT CASE
                 WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
                      AND tp <= hz THEN tp
                 WHEN te IS NOT NULL AND (tp IS NULL OR te < tp)
                      AND te <= hz THEN te
                 ELSE hz END AS t,
               CASE
                 WHEN (tp IS NOT NULL AND (te IS NULL OR tp <= te)
                       AND tp <= hz)
                   OR (te IS NOT NULL AND (tp IS NULL OR te < tp)
                       AND te <= hz) THEN 1
                 ELSE 0 END AS e
             FROM s0),
    per AS (SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
                   CAST(count(*) - sum(e) AS BIGINT) AS n_censored
            FROM subj GROUP BY t),
    tot AS (SELECT CAST(sum(n_events + n_censored) AS BIGINT) AS n
            FROM per),
    r AS (SELECT t, n_events, n_censored,
                 CAST(n - COALESCE(sum(n_events + n_censored) OVER
                       (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
          FROM per, tot),
    lg AS (SELECT t, n_risk, n_events,
                  CASE WHEN n_events < n_risk
                       THEN round(ln(1.0 - CAST(n_events AS DOUBLE)
                                          / CAST(n_risk AS DOUBLE)), 9)
                  END AS l
           FROM r),
    s AS (SELECT t, n_events,
                 max(CASE WHEN l IS NULL THEN 1 ELSE 0 END) OVER
                   (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS dead,
                 sum(l) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS cl
          FROM lg),
    st AS (SELECT t, n_events,
                  CASE WHEN dead = 1 THEN 0.0
                       ELSE round(exp(cl), 6) END AS survival
           FROM s),
    stepped AS (SELECT t, n_events,
                       CAST(round(survival * 1e6) AS HUGEINT) AS s6,
                       lead(t) OVER (ORDER BY t) AS nt
                FROM st),
    area AS (SELECT CAST(sum(s6 * greatest(
                      least(coalesce(nt, 48), 48) - least(t, 48), 0))
                    AS HUGEINT) AS a,
                    CAST(sum(n_events) AS BIGINT) AS n_events,
                    CAST(least(min(t), 48) AS HUGEINT) * 1000000 AS l
             FROM stepped),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_subjects FROM subj)
    SELECT CAST(48 AS BIGINT) AS tau, n_subjects, n_events,
           CAST(a + l AS DOUBLE) / 1e6 AS rmst,
           48.0 - CAST(a + l AS DOUBLE) / 1e6 AS rmst_lost
    FROM area, n
    """,
)
def q315_rmst(spark, sf_dir):
    """48-hour restricted mean survival time of the q309 journey
    frame collapsed to all-cause (first purchase-or-error = the
    event, staggered-horizon administrative censoring): the average
    outcome-free hours in a user's first two days — the single
    number the KM curve collapses to for arm comparisons when
    medians break under censoring. τ-truncated exact step-area fold
    over q246's product-limit lanes. See
    :func:`maston_spark.evaluation.rmst`."""
    from maston_spark.evaluation import rmst as _rmst

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("__t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "__p0"
        ),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias(
            "__e0"
        ),
    )
    hz = (F.lit(24) + (F.col("user_id") % 5) * 12).cast("long")
    tp = (
        F.floor(F.unix_timestamp("__p0") / 3600)
        - F.floor(F.unix_timestamp("__t0") / 3600)
    ).cast("long")
    te = (
        F.floor(F.unix_timestamp("__e0") / 3600)
        - F.floor(F.unix_timestamp("__t0") / 3600)
    ).cast("long")
    s = u.select(hz.alias("__hz"), tp.alias("__tp"), te.alias("__te"))
    p_first = F.col("__tp").isNotNull() & (
        F.col("__te").isNull() | (F.col("__tp") <= F.col("__te"))
    )
    e_first = F.col("__te").isNotNull() & (
        F.col("__tp").isNull() | (F.col("__te") < F.col("__tp"))
    )
    hit = (p_first & (F.col("__tp") <= F.col("__hz"))) | (
        e_first & (F.col("__te") <= F.col("__hz"))
    )
    subj = s.select(
        F.when(p_first & (F.col("__tp") <= F.col("__hz")), F.col("__tp"))
        .when(e_first & (F.col("__te") <= F.col("__hz")), F.col("__te"))
        .otherwise(F.col("__hz"))
        .alias("dur"),
        hit.cast("int").alias("evt"),
    )
    return _rmst(subj, "dur", "evt", tau=48)


@query(
    "q316_sprt_evalue",
    oracle="""
    WITH d AS (SELECT event_type AS "group",
                      CASE WHEN value >= 100 THEN 1 ELSE 0 END AS y
               FROM events WHERE value IS NOT NULL),
    a AS (SELECT "group", CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS k
          FROM d GROUP BY 1)
    SELECT "group", n, k,
           round(k * 0.07918124604762482
                 + (n - k) * -0.012589127308020516, 6) AS log10_e,
           round(k * 0.07918124604762482
                 + (n - k) * -0.012589127308020516, 6)
             >= 1.3010299956639813 AS e_crossed
    FROM a ORDER BY "group"
    """,
)
def q316_sprt_evalue(spark, sf_dir):
    """Anytime-valid SPRT e-value per event type for "does this
    event's high-value rate exceed the 12.5% design" (H1: 15%),
    y = value ≥ 100: the peek-safe sequential readout beside the
    fixed-n battery — the e-process can be checked after every
    micro-batch without α inflation, and its (n, k) counter state
    folds additively (the q314 discipline applied to inference).
    Per-observation log₁₀ increments are embedded literals (the
    q242 no-in-engine-libm discipline). See
    :func:`maston_spark.evaluation.sprt_evalue`."""
    from maston_spark.evaluation import sprt_evalue

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_type", (F.col("value") >= 100).cast("int").alias("y")
    )
    return sprt_evalue(
        ev, "event_type", "y", p0=0.125, p1=0.15, alpha=0.05
    )


@query(
    "q317_seasonal_decompose",
    oracle="""
    WITH d AS (SELECT date_diff('day', DATE '1970-01-01',
                                CAST(ts AS DATE)) AS t,
                      CAST(count(*) AS BIGINT) AS y
               FROM events WHERE ts IS NOT NULL GROUP BY 1),
    tr AS (SELECT t, y, CAST(t % 7 AS INT) AS pos,
                  CASE WHEN count(*) OVER
                         (ORDER BY t RANGE BETWEEN 3 PRECEDING
                          AND 3 FOLLOWING) = 7
                       THEN (2 * CAST(sum(y) OVER
                              (ORDER BY t RANGE BETWEEN 3 PRECEDING
                               AND 3 FOLLOWING) AS HUGEINT) * 1000000
                             + 7) // 14
                  END AS trend_m
           FROM d),
    det AS (SELECT *, CASE WHEN trend_m IS NOT NULL
                           THEN CAST(y AS HUGEINT) * 1000000 - trend_m
                      END AS det_m
            FROM tr),
    prof AS (SELECT pos,
                    CASE WHEN sum(det_m) >= 0
                         THEN (2 * sum(det_m) + count(*))
                                // (2 * count(*))
                         ELSE -((2 * -sum(det_m) + count(*))
                                // (2 * count(*))) END AS s_m
             FROM det WHERE det_m IS NOT NULL GROUP BY pos),
    grand AS (SELECT CASE WHEN sum(s_m) >= 0
                          THEN (2 * sum(s_m) + count(*))
                                 // (2 * count(*))
                          ELSE -((2 * -sum(s_m) + count(*))
                                 // (2 * count(*))) END AS g_m
              FROM prof)
    SELECT det.t, det.y, det.pos,
           CAST(trend_m AS DOUBLE) / 1e6 AS trend,
           CAST(COALESCE(prof.s_m, 0) - grand.g_m AS DOUBLE) / 1e6
             AS seasonal,
           CAST(det_m - (COALESCE(prof.s_m, 0) - grand.g_m) AS DOUBLE)
             / 1e6 AS residual
    FROM det LEFT JOIN prof ON prof.pos = det.pos, grand
    ORDER BY det.t
    """,
)
def q317_seasonal_decompose(spark, sf_dir):
    """Additive seasonal decomposition of the daily event-count
    series, weekly period: every day's level explained as centered
    7-day trend + re-centered day-of-week effect + residual, all in
    exact micro lanes — the structure-extraction lens beside the
    seasonal-anomaly gate and the ACF/MASE measures. See
    :func:`maston_spark.relational.seasonal_decompose`."""
    from maston_spark.relational import seasonal_decompose

    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.datediff(
            F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return seasonal_decompose(daily, "day", "y", period=7)
