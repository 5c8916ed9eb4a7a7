"""Deterministic sampling for training-data pipelines: reproducible
train/val/test splits, fractional sampling, and weighted corpus
mixing.

Why not ``df.sample()``: engine-native samplers are seeded per
partition, so the selected set changes with partitioning, retries,
and engine version — unacceptable for a training corpus that must be
reproducible and auditable. Here membership is a pure function of
(salt, id): an md5 lane modulo a resolution, so the same document
lands in the same split on any engine, any cluster size, any rerun
(and the DuckDB oracle computes the identical assignment).

Scale: everything below is one codegen projection/filter on the
scan — no shuffle, no state, no RNG. At 100 TB the split column is
typically written once as a partition column so downstream epochs
prune to their split.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# resolution of the hash bucket in which rates are expressed; rates
# are exact multiples of 1/1000 so the filter compares integers only
# (no float thresholds to disagree across engines)
RESOLUTION = 1000


def hash_bucket(id_col, salt: str) -> Column:
    """Deterministic bucket in [0, RESOLUTION): integer lane of
    md5('<salt>:<id>'), identical in any engine with md5."""
    lane = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return (lane % RESOLUTION).cast("int")


def split_expr(
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> Column:
    """The split-assignment EXPRESSION: 'train'/'val'/... as a pure
    function of (salt, id). Exposed separately from
    :func:`split_assign` so pair-shaped frames (e.g. the cross-split
    leakage audit) can evaluate membership for both endpoint ids as
    projections, with no join against an assignment table."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    b = hash_bucket(id_col, salt)
    expr = None
    acc = 0
    names = list(weights)
    for name in names[:-1]:
        acc += round(weights[name] * RESOLUTION)
        clause = F.when(b < acc, F.lit(name))
        expr = clause if expr is None else expr.when(b < acc, F.lit(name))
    return (expr if expr is not None else F).otherwise(F.lit(names[-1]))


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """Add a ``split`` column ('train'/'val'/... per ``weights``).

    Boundaries are cumulative weights scaled to RESOLUTION, so the
    assignment is exact and order-independent.
    """
    return df.withColumn("split", split_expr(id_col, weights, salt))


def sample_fraction(
    df: DataFrame, fraction: float, id_col: str = "doc_id", salt: str = "sample"
) -> DataFrame:
    """Keep a deterministic ``fraction`` of rows by id hash."""
    return df.filter(hash_bucket(id_col, salt) < round(fraction * RESOLUTION))


def mix_sources(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Weighted corpus mixing: keep a per-source deterministic
    fraction of rows (the 'upsample books, downsample web' knob of a
    pretraining data recipe — here downsampling only; upsampling is
    explode on a repeat count, same hash discipline)."""
    rate = None
    for src, r in rates.items():
        thresh = F.lit(round(r * RESOLUTION))
        clause = F.when(F.col(source_col) == src, thresh)
        rate = clause if rate is None else rate.when(F.col(source_col) == src, thresh)
    rate = (
        rate.otherwise(F.lit(round(default_rate * RESOLUTION)))
        if rate is not None
        else F.lit(round(default_rate * RESOLUTION))
    )
    return df.filter(hash_bucket(id_col, salt) < rate)


def pack_sequences(
    df: DataFrame,
    capacity: int,
    id_col: str = "doc_id",
    size_col: str = "n_chars",
    n_shards: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign each document its
    position in a stream of fixed-`capacity` context windows — the
    standard pretraining packing strategy (documents are concatenated
    in a deterministic order, then split every `capacity` units; a
    document may straddle a window boundary).

    Packing is SHARD-LOCAL: documents are assigned to
    ``id % n_shards`` shards and packed within their shard in id
    order. That keeps the running-total window function parallel
    (one bounded partition per shard) instead of a single global
    cumulative sum — the difference between a 100 TB job and a
    single-task straggler. Output is fully deterministic: same ids →
    same (shard, pack_id, pack_offset) on any cluster size or rerun.
    """
    from pyspark.sql import Window

    shard = (F.col(id_col) % n_shards).cast("int")
    w = Window.partitionBy("shard").orderBy(id_col)
    start = (F.sum(size_col).over(w) - F.col(size_col)).cast("long")
    return df.select(
        id_col,
        size_col,
        shard.alias("shard"),
    ).select(
        id_col,
        size_col,
        "shard",
        F.floor(start / capacity).cast("long").alias("pack_id"),
        (start % capacity).cast("long").alias("pack_offset"),
    )


def domain_cap(
    df: DataFrame,
    domain_col: str = "source",
    order_col: str = "quality_score",
    id_col: str = "doc_id",
    cap: int = 100,
) -> DataFrame:
    """Per-domain quota: keep the top ``cap`` rows of each domain,
    ranked by ``order_col`` desc with ``id_col`` as deterministic
    tie-break — the web-corpus curation step that stops a single
    crawl-heavy domain from dominating the training mix (every
    CommonCrawl-scale pipeline runs some form of this).

    Scale shape: an Arrow-batched LOCAL prune first — within each
    input batch only a domain's top ``cap`` can survive globally, so
    per-task output is ≤ cap rows per (batch, domain) — then ONE hash
    shuffle on the domain for the exact ranking window. The local
    prune bounds shuffle volume at tasks × domains × cap rows
    regardless of how skewed the hot domain is; without it, a domain
    with a billion rows would funnel a billion rows into one window
    partition.

    Deterministic and oracle-checkable: rank = row_number over
    (domain, order desc, id), identical in any engine.
    """
    from pyspark.sql import Window

    def local_prune(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield (
                pdf.sort_values(
                    [domain_col, order_col, id_col],
                    ascending=[True, False, True],
                )
                .groupby(domain_col, sort=False)
                .head(cap)
            )

    ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )
    pruned = df.mapInPandas(local_prune, ddl)
    w = Window.partitionBy(domain_col).orderBy(
        F.col(order_col).desc(), F.col(id_col)
    )
    return (
        pruned.withColumn("domain_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("domain_rank") <= cap)
    )


def chunk_tokens(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Token-window chunking with overlap — the RAG / context-window
    preparation step: split each document's token stream into
    ``chunk_size``-token windows starting every
    ``chunk_size - overlap`` tokens, so consecutive chunks share
    ``overlap`` tokens and no retrieval boundary loses context.

    Scale shape: pure codegen — one `split`, one `posexplode` of a
    per-row `sequence` of starts, one `slice`+`array_join`. No
    shuffle, no UDF, no state; output rows ≈ input tokens /
    (chunk_size - overlap), generated task-locally so chunking 100 TB
    is a map-only job that parallelizes with the input file layout.

    Deterministic: chunk boundaries are a pure function of the token
    count, identical on any engine (the DuckDB oracle reproduces them
    with `range()` + list slicing).
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    toks = F.split(F.col(text_col), r"\s+")
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.size(toks).alias("n_tokens"),
    )
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_tokens") - 1, F.lit(0)), F.lit(stride)
    )
    return base.select(
        id_col,
        "n_tokens",
        "__toks",
        F.posexplode(starts).alias("chunk_id", "chunk_start"),
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        F.least(
            F.lit(chunk_size), F.col("n_tokens") - F.col("chunk_start")
        ).cast("int").alias("chunk_len"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("chunk_start") + 1, chunk_size), " "
        ).alias("chunk_text"),
    )


def dsir_log_weights(
    df: DataFrame,
    target_filter: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al., NeurIPS 2023,
    "Data Selection for Language Models via Importance Resampling";
    public): score every document by how target-like its hashed
    bag-of-words is. Features are md5 lanes of each token modulo
    ``n_buckets``; the target distribution ``p`` comes from the rows
    matching ``target_filter``, the raw distribution ``q`` from the
    whole corpus, both add-one smoothed. A document's log-weight is
    ``sum_b count_b * (ln p_b - ln q_b)`` — resample with weights
    ``exp(log_w)`` to shift the corpus toward the target domain.

    Scale shape: token→bucket counting is a map-side-combinable hash
    agg on (doc, bucket); the two distributions reduce the SAME
    (doc, bucket) table to ``n_buckets`` rows (a broadcast-size
    side); the per-doc score is one more combinable agg. Raw text
    crosses no shuffle — only (doc, bucket, count) rows do. The
    corpus tokenizes twice (distribution build + probe join); for a
    one-pass run at extreme scale, persist the reduced (doc, bucket,
    count) table between the two uses.

    Cross-engine determinism: the per-bucket log-ratio is rounded to
    9 decimals and summed as DECIMAL(28,9) — decimal addition is
    exact and order-independent, so Spark's unordered aggregation
    and the oracle's produce bit-identical sums.
    """
    tok = F.explode(F.split(F.col(text_col), r"\s+")).alias("tok")
    lane = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).alias("bucket")
    # Explicit-count repartition on the doc id BEFORE tokenizing:
    # HashPartitioning(id) satisfies every downstream grouping that
    # contains the id, so the (doc, bucket) count agg and the final
    # per-doc score agg run exchange-free — one text-level shuffle
    # (fewer bytes than the exploded token rows it replaces) instead
    # of two token-level ones, and the md5 hashing parallelizes by
    # row count, not input file layout.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    doc_bucket = (
        df.select(F.col(id_col), F.col(text_col), target_filter.alias("__tgt"))
        .repartition(n_parts, F.col(id_col))
        .select(id_col, "__tgt", tok)
        .select(id_col, "__tgt", lane)
        .groupBy(id_col, "__tgt", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # n_buckets-row distribution table: smoothed target + raw log-probs.
    # Totals come from an unpartitioned window over the SAME tiny
    # table (n_buckets rows in one task) — not a separate agg branch,
    # which would re-tokenize the whole corpus a third time.
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    dist = (
        doc_bucket.groupBy("bucket")
        .agg(
            F.sum("cnt").alias("q_cnt"),
            F.sum(F.when(F.col("__tgt"), F.col("cnt")).otherwise(F.lit(0))).alias(
                "p_cnt"
            ),
        )
    )
    log_ratio = F.round(
        F.log((F.col("p_cnt") + 1) / (F.sum("p_cnt").over(w_all) + n_buckets))
        - F.log((F.col("q_cnt") + 1) / (F.sum("q_cnt").over(w_all) + n_buckets)),
        9,
    ).alias("log_ratio")
    dist = dist.select("bucket", log_ratio)
    contrib = (F.col("cnt") * F.col("log_ratio")).cast("decimal(28,9)")
    return (
        doc_bucket.join(F.broadcast(dist), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.round(F.sum(contrib).cast("double"), 6).alias("log_weight"),
        )
    )


def weighted_sample(
    df: DataFrame,
    n: int,
    weight_col: str,
    id_col: str = "doc_id",
    salt: str = "wsample",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis 2006, public): each row draws
    ``u = md5_lane(salt:id) / 2^32`` — a pure function of (salt, id),
    so the same corpus gives the same sample on any engine, cluster
    size, or rerun — and the ``n`` rows with the largest
    ``u^(1/weight)`` keys are the sample. Heavier rows win
    proportionally more often, the classic quality-weighted corpus
    subsampling step.

    Scale shape: the key is one codegen projection; the top-n is a
    global TakeOrderedAndProject (per-partition heaps of n, driver
    merge of partitions × n) — no full sort, no shuffle of the
    corpus. Keys round to 9 decimals with the id as tiebreak so a
    sub-ulp libm difference between engines can never flip the
    cutoff.
    """
    lane = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    u = (lane + F.lit(0.5)) / F.lit(float(1 << 32))  # (0,1), never 0
    key = F.round(
        F.exp(F.log(u) / F.col(weight_col).cast("double")), 9
    )
    return (
        df.select("*", key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
        .limit(n)
    )


def budget_select(
    df: DataFrame,
    budget: int,
    score_col: str = "score",
    weight_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Quality-ordered corpus selection under a global token budget:
    keep the best-scoring documents, in (score desc, id) order, while
    the running token total stays within ``budget`` (the
    DCLM/FineWeb-style 'take the top N tokens by quality' selection
    step). Documents are never split; the first document that would
    overflow the budget — and everything after it — is dropped.

    The naive formulation is ``sum(w) OVER (ORDER BY score DESC)`` —
    a GLOBAL ordered cumulative sum, which every engine executes as
    a single-task window (the whole corpus through one reducer: the
    canonical 100 TB straggler). Here it is a distributed two-phase
    prefix sum instead:

    1. ``repartitionByRange`` on the sort key (one range exchange —
       the only full-data shuffle) + ``sortWithinPartitions``, then
       persist so phases see identical partition boundaries (range
       boundaries come from sampling and are not stable across
       re-execution).
    2. A slim per-partition aggregate (|partitions| rows) collects
       partition token totals; the driver turns them into exclusive
       prefix OFFSETS — the only driver-side data is one long per
       partition.
    3. One Arrow-batched ``mapInPandas`` pass adds
       ``offset[partition] + local running sum`` and cuts at the
       budget — partitions entirely past the budget emit nothing
       without scanning (their offset already exceeds it).

    Weights must be integral (token counts): the prefix sums are
    exact, so the selection boundary is deterministic on any cluster
    size. Ties on score are broken by ``id_col``, making the order
    total and the result engine-independent.
    """
    import pandas as pd

    p = num_partitions or df.sparkSession.sparkContext.defaultParallelism

    # PINNED persist, deliberately NOT scoped_persist: the driver
    # collects per-__pid totals from THIS materialization, and the
    # returned frame replays __pid -> offset against the same blocks.
    # If the cache were evicted, re-execution would re-sample
    # repartitionByRange's boundaries (RangePartitioner sampling is
    # seeded by fresh RDD ids), rows could land in different
    # partitions, and the collected offsets would silently misalign
    # — the one shape where "unpersist is recompute-safe" is false.
    ordered = (
        df.repartitionByRange(p, F.col(score_col).desc(), F.col(id_col).asc())
        .sortWithinPartitions(F.col(score_col).desc(), F.col(id_col).asc())
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    totals = {
        r["__pid"]: r["t"]
        for r in ordered.groupBy("__pid")
        .agg(F.sum(weight_col).alias("t"))
        .collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += int(totals[pid])

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in ordered.schema.fields
        if f.name != "__pid"
    ) + ", cum_tokens long"

    def cut(batches):
        run = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if run is None:
                run = offsets[int(pdf["__pid"].iloc[0])]
            if run > budget:
                return  # whole remainder of this partition is past the cut
            w = pdf[weight_col].astype("int64")
            cum = w.cumsum() + run
            run = int(cum.iloc[-1])
            keep = pdf.loc[(cum <= budget).to_numpy()].drop(columns="__pid")
            keep = keep.assign(cum_tokens=cum[(cum <= budget)].to_numpy())
            if len(keep):
                yield keep
            if run > budget:
                return

    return ordered.mapInPandas(cut, out_schema)


def cluster_safe_split(
    verts: DataFrame,
    edges: DataFrame,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> DataFrame:
    """LEAKAGE-SAFE train/val/test assignment: near-duplicate
    clusters are split as a UNIT — every member takes the split of
    its cluster label (the component min id), so a document and its
    near-duplicates can never straddle train and test. The
    constructive counterpart of the cross-split leakage AUDIT
    (``split_leakage``): the audit detects the contamination a
    doc-hash split produces; this splitter makes it impossible by
    construction (dedup-aware splitting, the Lee et al. 2021 / GPT-3
    decontamination discipline applied at split time).

    Scale shape: :func:`maston_spark.llm.dedup.connected_components`
    supplies (id, cluster); the assignment is then ONE codegen
    projection on the cluster label — no extra shuffle beyond the
    clustering itself, and the same md5-bucket determinism as
    :func:`split_assign` (any engine replays it).

    Output: (id, cluster, split).
    """
    from maston_spark.llm.dedup import connected_components

    comp = connected_components(verts, edges)
    return comp.withColumn("split", split_expr("cluster", weights, salt))


def pareto_frontier(
    df: DataFrame,
    maximize_col: str,
    minimize_col: str,
) -> DataFrame:
    """Rows on the 2-D Pareto frontier: keep a row iff NO other row
    weakly dominates it (other has ``maximize_col`` ≥ and
    ``minimize_col`` ≤, with at least one strict). Rows that tie on
    BOTH coordinates all survive (standard skyline semantics). The
    curation framing: the quality-vs-token-cost efficient set —
    every off-frontier document is strictly worse than some kept one
    on at least one axis and no better on the other.

    Distributed shape (local-prune + exact-confirm, the same
    superset-guarantee pattern as
    :func:`maston_spark.sketches.mg_heavy_hitters`): each partition
    computes its LOCAL skyline inside ``mapInPandas`` — dominance is
    transitive, so a globally undominated row is undominated in its
    partition, making the union of local skylines a guaranteed
    superset — then the exact window test runs on that (small)
    candidate set only. The global sort-and-scan never touches the
    full corpus, avoiding the single-task global-window trap
    (a partition-less ``Window.orderBy`` pulls ALL rows through one
    task — the same reason budget_select is two-phase).

    The local prune is a sort + running-max scan (O(p log p) per
    partition, vectorized numpy), not the O(p²) pairwise test.
    """
    import pandas as pd  # noqa: F401

    from maston_spark.caching import scoped_persist

    cols = df.columns
    mx, mn = maximize_col, minimize_col

    def local_skyline(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        cur = None
        for pdf in batches:
            cur = pdf if cur is None else pd.concat([cur, pdf], ignore_index=True)
            if not len(cur):
                continue  # empty arrow batch: nothing to prune yet
            # sort by (cost asc, quality desc); a row survives iff its
            # quality strictly exceeds the running max over all
            # strictly-cheaper rows AND it is not beaten at equal cost
            # (the sort puts the best equal-cost row first).
            cur = cur.sort_values([mn, mx], ascending=[True, False], kind="mergesort")
            q = cur[mx].to_numpy()
            c = cur[mn].to_numpy()
            import numpy as np

            best_so_far = np.maximum.accumulate(q)
            # strictly-cheaper running max: shift the accumulate past
            # each equal-cost block's start
            first_of_block = np.r_[True, c[1:] != c[:-1]]
            block_start = np.maximum.accumulate(
                np.where(first_of_block, np.arange(len(c)), 0)
            )
            prev_max = np.where(
                block_start > 0, best_so_far[np.maximum(block_start - 1, 0)], -np.inf
            )
            block_best = q[block_start]  # highest quality at this cost
            keep = (q > prev_max) & (q == block_best)
            cur = cur[keep]
        if cur is not None and len(cur):
            yield cur

    cands = scoped_persist(df.mapInPandas(local_skyline, schema=df.schema))
    # exact confirm on the candidate set: a candidate is dominated iff
    # a (distinct-coordinate) candidate pair beats it — the survivors
    # of every partition include all global winners, so testing
    # against candidates alone is exact.
    pts = cands.select(
        F.col(mx).alias("__q"), F.col(mn).alias("__c")
    ).distinct()
    dominators = pts.alias("p").join(
        pts.alias("o"),
        (F.col("o.__q") >= F.col("p.__q"))
        & (F.col("o.__c") <= F.col("p.__c"))
        & (
            (F.col("o.__q") > F.col("p.__q"))
            | (F.col("o.__c") < F.col("p.__c"))
        ),
        "left_semi",
    )
    return (
        cands.join(
            dominators.select(
                F.col("__q").alias(mx), F.col("__c").alias(mn)
            ),
            [mx, mn],
            "left_anti",
        ).select(*cols)
    )


def domain_water_fill(
    df: DataFrame,
    domain_col: str,
    budget_num: int,
    budget_den: int = 1,
    weight_col: str | None = None,
) -> DataFrame:
    """Water-filling allocation of a budget across domains:
    ``(domain, n_docs, alloc)`` where every domain is capped at a
    common level L (the "water line") chosen so the total allocation
    exactly meets ``budget = floor(total · budget_num / budget_den)``
    — the most-even mixture that respects each domain's actual size
    (small domains keep everything, large ones are cut to the line).
    This is the quota PLANNER that precedes :func:`domain_cap`, which
    enforces a per-domain quota row-wise.

    With ``weight_col`` the budget is in WEIGHT units (the usual
    case: a TOKEN budget, each doc weighing its token count) — a
    domain's size is its integer weight sum and ``alloc`` is its
    allocated weight; without it, sizes are document counts.

    Exact integer construction: with sizes sorted ascending and
    prefix sums ``cum_i``, the level bracket containing the answer is
    the unique row where ``L_i = (budget − cum_{i−1}) div (n − i + 1)``
    falls in ``[s_{i−1}, s_i)`` (water fills past every smaller
    domain, not the current one); the remainder
    ``budget − Σ min(size, L)`` (< number of above-line domains) goes
    one extra to the first remainder domains above the line, ordered
    by domain name. Every quantity is int64 — the oracle replays the
    arithmetic bit-for-bit. If ``budget ≥ total`` every domain keeps
    its full size.

    Distributed shape: ONE combiner-reduced count collapses the
    corpus to |domains| rows; the bracket search is a window over
    that table; the chosen level broadcasts back as a 1-row join.

    PRECONDITION — bounded domain count: the bracket-search windows
    are partition-less ``Window.orderBy`` over the |domains|-row
    sizes table, so ``domain_col`` must be a genuinely LOW-cardinality
    grouping (sources, languages, buckets — thousands, not millions).
    For an unbounded key (per-URL, per-user), pre-bucket the key or
    rank with :func:`maston_spark.relational.global_rank` first.
    """
    size_agg = (
        F.sum(F.col(weight_col)) if weight_col is not None else F.count(F.lit(1))
    )
    sizes = df.groupBy(F.col(domain_col).alias("domain")).agg(
        size_agg.cast("long").alias("n_docs")
    )
    tot = sizes.agg(
        F.sum("n_docs").cast("long").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    ).select(
        (F.col("__total") * F.lit(int(budget_num)))
        .cast("long")
        .alias("__scaled"),
        "__total",
        "__n",
    ).select(
        F.expr(f"__scaled div {int(budget_den)}").alias("budget"),
        "__total",
        "__n",
    ).withColumn("__k", F.lit(1))
    w = Window.orderBy("n_docs", "domain")  # |domains| rows — bounded
    ranked = (
        sizes.withColumn("__i", F.row_number().over(w).cast("long"))
        .withColumn("__cum", F.sum("n_docs").over(w))
        .withColumn("__k", F.lit(1))
        .join(F.broadcast(tot), "__k")
    )
    # bracket i: water past domains 1..i-1 (cum_{i-1} = cum - n_docs of
    # nothing... use cum of previous row), level shared by n - i + 1
    # domains. L_i = (budget - prev_cum) div (n - i + 1); valid when
    # prev_size <= L_i < size_i. Edge rows use 0 / +inf sentinels.
    wprev = Window.orderBy("__i")
    ranked = ranked.withColumn(
        "__prev_cum", F.coalesce(F.lag("__cum").over(wprev), F.lit(0))
    ).withColumn(
        "__prev_size", F.coalesce(F.lag("n_docs").over(wprev), F.lit(0))
    )
    li = F.expr("(budget - __prev_cum) div (__n - __i + 1)").cast("long")
    level_row = (
        ranked.withColumn("__li", li)
        .filter(
            (F.col("budget") < F.col("__total"))
            & (F.col("__li") >= F.col("__prev_size"))
            & (F.col("__li") < F.col("n_docs"))
        )
        .orderBy("__i")
        .limit(1)
        .select("__k", F.col("__li").alias("level"))
    )
    # budget >= total: no bracket matches -> level = max size (keep all)
    fallback = tot.select(
        "__k", F.greatest(F.col("__total"), F.lit(0)).alias("__fb")
    )
    alloc_base = (
        ranked.join(F.broadcast(level_row), "__k", "left")
        .join(F.broadcast(fallback), "__k")
        .withColumn("__lvl", F.coalesce(F.col("level"), F.col("__fb")))
        .withColumn("__base", F.least(F.col("n_docs"), F.col("__lvl")))
    )
    used = alloc_base.groupBy("__k").agg(
        F.sum("__base").cast("long").alias("__used")
    )
    out = (
        alloc_base.join(F.broadcast(used), "__k")
        .withColumn(
            "__rem",
            F.least(F.col("budget"), F.col("__total")) - F.col("__used"),
        )
        .withColumn(
            "__extra_rank",
            F.row_number().over(
                Window.partitionBy("__k")
                .orderBy(
                    (F.col("n_docs") > F.col("__lvl")).desc(), F.col("domain")
                )
            )
            .cast("long"),
        )
        .withColumn(
            "alloc",
            F.col("__base")
            + F.when(
                (F.col("n_docs") > F.col("__lvl"))
                & (F.col("__extra_rank") <= F.col("__rem")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
    )
    return out.select("domain", "n_docs", "alloc")


def greedy_token_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 6,
    ngram: int = 1,
) -> DataFrame:
    """Greedy maximum-coverage corpus selection: pick ``k`` documents
    one at a time, each maximizing the number of NOT-YET-COVERED
    distinct tokens (ties → smallest id) — one row per pick:
    ``(step, doc_id, n_new_tokens, n_covered_total)``. This is the
    classic (1 - 1/e)-approximate submodular greedy (Nemhauser,
    Wolsey, Fisher 1978) behind coreset / data-mixture selection:
    "which handful of docs covers the most vocabulary" — a selection
    physics none of the hash/score-based samplers
    (:func:`weighted_sample`, :func:`budget_select`, DSIR) cover,
    because each pick CHANGES every other doc's value.

    Distributed shape: the token table builds once and persists; each
    of the k iterations is one anti-join (uncovered tokens only) +
    combiner-reduced per-doc count + a 1-ROW argmax collect — the
    bounded driver coordination of the Lloyd/PageRank discipline
    (k scans, never k² and never a corpus collect). Docs whose tokens
    are fully covered vanish from the candidate aggregation, so a
    pick always adds coverage; if every remaining doc is fully
    covered the loop stops early. Deterministic end to end — the
    oracle replays all k stages as chained SQL.
    """
    spark = docs.sparkSession
    base = docs.filter(F.col(text_col).isNotNull())
    if ngram <= 1:
        tok = base.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
    else:
        # coverage units = word n-grams (``ngram`` > 1) for templated
        # corpora whose unigram vocabulary is tiny — the explode+lead
        # codegen shingle shape shared with exact_jaccard_simjoin
        from pyspark.sql import Window

        toks = base.repartition(
            docs.sparkSession.sparkContext.defaultParallelism, id_col
        ).select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tk"),
        )
        w = Window.partitionBy("id").orderBy("pos")
        parts = [F.col("tk")] + [
            F.lead("tk", i).over(w).alias(f"__t{i}") for i in range(1, ngram)
        ]
        last = F.lead("tk", ngram - 1).over(w)
        tok = (
            toks.select("id", *parts, last.alias("__last"))
            .filter(F.col("__last").isNotNull())
            .select(
                "id",
                F.concat_ws(
                    " ", "tk", *[f"__t{i}" for i in range(1, ngram)]
                ).alias("tok"),
            )
        )
    tok = tok.distinct().persist()
    covered = None
    out_rows = []
    total = 0
    try:
        for step in range(1, k + 1):
            # the covered set descends from `tok` itself, so its
            # column is RENAMED before the anti-join — joining two
            # frames that share attribute lineage on a same-named
            # column silently resolves to a self-comparison (measured:
            # the anti-join dropped every row)
            cand = (
                tok
                if covered is None
                else tok.join(
                    covered, tok["tok"] == covered["ctok"], "left_anti"
                )
            )
            top = (
                cand.groupBy("id")
                .agg(F.count(F.lit(1)).alias("gain"))
                .orderBy(F.desc("gain"), F.asc("id"))
                .limit(1)
                .collect()
            )
            if not top:
                break
            pick, gain = top[0]["id"], int(top[0]["gain"])
            total += gain
            out_rows.append((step, pick, gain, total))
            new_cov = tok.filter(F.col("id") == pick).select(
                F.col("tok").alias("ctok")
            )
            covered = (
                new_cov
                if covered is None
                else covered.unionByName(new_cov).distinct()
            )
            # bound lineage growth across iterations (k is small, but
            # the covered set is query-lineage otherwise k-deep)
            covered = covered.localCheckpoint(eager=True)
        # the doc-id field inherits the INPUT id column's type —
        # hardcoding `long` made string-id corpora fail at the very
        # end, after all k iterations of work
        from pyspark.sql.types import (
            IntegerType,
            LongType,
            StructField,
            StructType,
        )

        id_type = docs.schema[id_col].dataType
        return spark.createDataFrame(
            out_rows,
            StructType(
                [
                    StructField("step", IntegerType()),
                    StructField("doc_id", id_type),
                    StructField("n_new_tokens", LongType()),
                    StructField("n_covered_total", LongType()),
                ]
            ),
        )
    finally:
        tok.unpersist()


def priority_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "ps",
) -> DataFrame:
    """Deterministic weight-proportional sample WITHOUT replacement:
    the k rows with the highest integer priority
    ``w · 2³² div (lane + 1)``, where ``lane`` is the 32-bit md5 hash
    lane of ``salt:id`` — the Duffield-Lund-Thorup priority-sampling
    scheme (priority = w/u with u uniform) carried out in EXACT
    integer arithmetic so any engine with md5 draws the identical
    sample (no libm ``ln``/``pow`` whose last ulp differs across
    engines; floor quantization of the priority only merges keys an
    integer apart, astronomically finer than the hash's resolution).
    Heavier rows win proportionally more often; re-salting redraws.

    The distributed shape weighted reservoir sampling wants at
    100 TB: one stateless projection (hash + two integer ops per
    row) and a TakeOrdered top-k — no state, no sequential scan, and
    the same rows win on any partitioning/cluster size.

    PRECONDITION: integer weights in [1, 2³¹) — ``w · 2³²`` must fit
    int64 (token/char counts qualify); w ≤ 0 rows never win (they
    are dropped, matching "weight 0 = never sampled")."""
    lane = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    w = F.col(weight_col).cast("long")
    out = (
        df.filter(w > 0)
        .withColumn("__lane", lane)
        .withColumn(
            "priority",
            F.expr(
                f"(CAST({weight_col} AS BIGINT) * 4294967296) div (__lane + 1)"
            ),
        )
        .drop("__lane")
    )
    return out.orderBy(F.desc("priority"), F.asc(id_col)).limit(k)


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    n_total: int,
) -> DataFrame:
    """Neyman-optimal stratified-sample allocation (Neyman 1934):
    split a sampling budget ``n_total`` across strata proportionally
    to ``N_h · σ_h`` (stratum size × stratum standard deviation) —
    the allocation that minimizes the variance of the stratified
    mean estimator; the "where should my eval sample come from"
    planner next to :func:`domain_water_fill`'s evenness planner.
    Output: ``(stratum, n_rows, sd, share, alloc)`` with every
    ``alloc ≤ n_rows`` (a stratum can't contribute more rows than it
    has). Apportionment is SINGLE-ROUND largest-remainder with the
    population cap applied after the +1 round, so ``Σ alloc ≤
    n_total`` with a (deterministic, documented) shortfall only when
    caps bind — the iterative re-apportionment a binding cap would
    need is a driver loop this planner deliberately avoids.

    Determinism discipline: per-stratum moment sums run on the
    9-decimal grid in DECIMAL (exact); population variance
    ``(Σx² − (Σx)²/N)/N`` and its sqrt are IEEE but sqrt is
    CORRECTLY ROUNDED by the standard (unlike ln/pow — identical in
    every engine); the weights ``N_h·σ_h`` round to 6 before the
    share normalization so the cross-strata sum is decimal-exact;
    integer apportionment is largest-remainder (Hamilton) on the
    scaled shares with (remainder desc, stratum) tie-break — every
    step replayable bit-for-bit in SQL.

    PRECONDITION — bounded stratum count: the apportionment windows
    are partition-less over the |strata|-row weights table
    (sources/languages/buckets — thousands, not millions); the
    corpus itself is touched by ONE combiner-reduced moment
    aggregation only."""
    x = F.col(value_col).cast("decimal(18,9)")
    per = df.filter(F.col(value_col).isNotNull()).groupBy(
        F.col(stratum_col).alias("stratum")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
    )
    nd = F.col("n_rows").cast("double")
    sx = F.col("__sx").cast("double")
    sxx = F.col("__sxx").cast("double")
    var = (sxx - sx * sx / nd) / nd
    sd = F.sqrt(F.greatest(var, F.lit(0.0)))
    weighted = per.select(
        "stratum",
        "n_rows",
        F.round(sd, 6).alias("sd"),
        F.round(nd * sd, 6).cast("decimal(28,6)").alias("__w"),
    )
    tot = weighted.agg(F.sum("__w").alias("__wtot"))
    shared = weighted.join(F.broadcast(tot)).select(
        "stratum",
        "n_rows",
        "sd",
        F.when(
            F.col("__wtot") > 0,
            F.col("__w").cast("double") / F.col("__wtot").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("__share"),
    )
    # largest-remainder apportionment over the |strata|-row table,
    # capped at each stratum's population
    quota = F.least(
        F.col("__share") * F.lit(float(n_total)), F.col("n_rows").cast("double")
    )
    base = shared.select(
        "stratum",
        "n_rows",
        "sd",
        F.round(F.col("__share"), 6).alias("share"),
        F.floor(quota).cast("long").alias("__base"),
        F.round(quota - F.floor(quota), 9).alias("__rem"),
    )
    tot2 = base.agg(F.sum("__base").alias("__btot"))
    wrem = Window.orderBy(F.col("__rem").desc(), F.col("stratum").asc())
    ranked = base.join(F.broadcast(tot2)).select(
        "stratum",
        "n_rows",
        "sd",
        "share",
        "__base",
        "__btot",
        F.row_number().over(wrem).cast("long").alias("__rk"),
    )
    extra = F.least(
        F.lit(int(n_total)) - F.col("__btot"), F.lit(int(n_total))
    )
    return ranked.select(
        "stratum",
        "n_rows",
        "sd",
        "share",
        F.least(
            (
                F.col("__base")
                + F.when(F.col("__rk") <= extra, F.lit(1)).otherwise(F.lit(0))
            ),
            F.col("n_rows"),
        )
        .cast("long")
        .alias("alloc"),
    ).orderBy("stratum")


def ipf_rake(
    df: DataFrame,
    row_col: str,
    col_col: str,
    iterations: int = 2,
) -> DataFrame:
    """Iterative proportional fitting / raking (Deming & Stephan
    1940): reweight the observed (row, col) contingency cells toward
    UNIFORM row and column margins — ``(row, col, n, weight)`` —
    the survey-calibration step a sampling pipeline runs when the
    collected mix over-/under-represents strata on two axes at once
    (the 2-D generalization of the 1-D rate adjustments in
    :func:`mix_sources`). Each iteration scales every cell by
    (row_target / row_sum) then (col_target / col_sum); a fixed,
    unrolled ``iterations`` count keeps the computation a finite
    expression sequence an oracle replays exactly.

    Determinism discipline: cell counts are exact integers; each
    multiplicative scaling is IEEE but is followed by round-to-9 →
    DECIMAL, so every margin sum between steps is decimal-EXACT
    (summation order across cells cannot perturb a bit — the same
    grid trick as the drift family).

    Scale shape: ONE combiner-reduced count collapses the corpus to
    |rows|×|cols| cells; every subsequent window/aggregate runs on
    that bounded cell table (PRECONDITION: both axes are genuinely
    low-cardinality groupings — sources, languages, buckets)."""
    cells = (
        df.filter(F.col(row_col).isNotNull() & F.col(col_col).isNotNull())
        .groupBy(F.col(row_col).alias("__r"), F.col(col_col).alias("__c"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cells.agg(
        F.sum("n").cast("double").alias("__N"),
        F.countDistinct("__r").cast("double").alias("__nr"),
        F.countDistinct("__c").cast("double").alias("__nc"),
    )
    w = cells.join(F.broadcast(tot)).withColumn(
        "__w", F.col("n").cast("decimal(28,9)")
    )
    wr = Window.partitionBy("__r")
    wc = Window.partitionBy("__c")
    dec = "decimal(28,9)"
    for _ in range(iterations):
        rs = F.sum("__w").over(wr).cast("double")
        w = w.withColumn(
            "__w",
            F.round(
                F.col("__w").cast("double")
                * ((F.col("__N") / F.col("__nr")) / rs),
                9,
            ).cast(dec),
        )
        cs = F.sum("__w").over(wc).cast("double")
        w = w.withColumn(
            "__w",
            F.round(
                F.col("__w").cast("double")
                * ((F.col("__N") / F.col("__nc")) / cs),
                9,
            ).cast(dec),
        )
    return w.select(
        F.col("__r").alias(row_col),
        F.col("__c").alias(col_col),
        "n",
        F.round(F.col("__w").cast("double"), 6).alias("weight"),
    ).orderBy(row_col, col_col)


def effective_sample_size(
    df: DataFrame,
    group_col: str,
    weight_col,
) -> DataFrame:
    """Kish effective sample size per group for a WEIGHTED corpus —
    ``(group, n_rows, sum_w, n_eff, eff_ratio, max_w_share)`` with
    ``n_eff = (Σw)² / Σw²`` (Kish 1965): after importance
    reweighting (DSIR log-weights, token weights, dedup survival
    weights), how much data do you EFFECTIVELY have? A source whose
    token mass sits in a handful of giant documents contributes far
    fewer effective documents than its row count suggests —
    ``eff_ratio = n_eff/n`` is the honesty factor every reweighted
    mixture report should carry, and ``max_w_share`` names the
    single-document concentration that drags it down.

    One combiner-reduced aggregation: Σw and Σw² fold as decimals
    (exact in any merge order; weights land on the 6-grid first —
    decimal(18,6) so the w² product's declared precision stays
    inside Spark's 38-digit exact range), max is order-free, and the
    two closing quotients are fixed IEEE (round 6). Non-positive or
    NULL weights drop — a negative importance weight is an upstream
    bug, not a sample."""
    dec = "decimal(18,6)"
    w = F.round(F.col(weight_col).cast("double"), 6).cast(dec)
    # positivity is judged on the ROUNDED weight (the value that
    # actually enters the folds): a raw weight in (0, 5e-7) rounds to
    # exactly 0 on the 6-grid — keeping it would count a row in
    # n_rows that carries zero weight (skewing eff_ratio), and a
    # group made entirely of such rows would close 0/0
    base = df.select(F.col(group_col).alias("group"), w.alias("__w")).filter(
        F.col("__w").isNotNull() & (F.col("__w") > 0)
    )
    agg = base.groupBy("group").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("__w").alias("__sw"),
        F.sum(F.col("__w") * F.col("__w")).alias("__sww"),
        F.max("__w").alias("__mw"),
    )
    sw = F.col("__sw").cast("double")
    sww = F.col("__sww").cast("double")
    n_eff = sw * sw / sww
    return agg.select(
        "group",
        "n_rows",
        F.round(sw, 6).alias("sum_w"),
        F.round(n_eff, 6).alias("n_eff"),
        F.round(n_eff / F.col("n_rows").cast("double"), 6).alias("eff_ratio"),
        F.round(F.col("__mw").cast("double") / sw, 6).alias("max_w_share"),
    ).orderBy("group")


def systematic_sample(
    df: DataFrame,
    id_col: str,
    k: int,
    salt: str = "sys",
) -> DataFrame:
    """Deterministic 1-in-``k`` systematic sample —
    ``(id, rank, sample_idx)``: order the corpus by an md5 hash of
    the id (a reproducible pseudo-random permutation, so the
    systematic grid cannot alias any real-world periodicity in the
    source layout) and keep every k-th row starting at rank 1. The
    classic design when you need an EXACTLY n/k-sized, replayable
    sample with zero coordination — cheaper bookkeeping than
    reservoir or priority sampling when the frame is static.

    Scale shape: the ordering is the two-phase
    :func:`maston_spark.relational.global_rank` (no partition-less
    window); the keep test ``(rank−1) mod k = 0`` and the sample
    index are exact integer arithmetic. Same (salt, ids) → the same
    sample on any engine, partitioning, or rerun."""
    from maston_spark.relational import global_rank

    if k < 1:
        raise ValueError("k must be >= 1")
    hashed = df.select(
        F.col(id_col),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("__h"),
    )
    ranked = global_rank(hashed, [F.col("__h"), F.col(id_col)], rank_col="rank")
    return (
        ranked.filter(F.pmod(F.col("rank") - 1, F.lit(k)) == 0)
        .select(
            F.col(id_col),
            "rank",
            F.expr(f"((rank - 1) div {int(k)}) + 1").alias("sample_idx"),
        )
        .orderBy("rank")
    )
