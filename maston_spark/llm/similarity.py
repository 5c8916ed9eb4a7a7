"""Embedding similarity search over `array<float>` vector columns.

Two tiers, mirroring how ANN is actually deployed at scale:
- brute-force cosine top-k for a SMALL broadcast query set — exact,
  one pass over the corpus, no shuffle of the corpus itself;
- sign-LSH (random-hyperplane) bucketing as the scale path: corpus
  and queries hash to bucket keys; the join is equi on bucket, so
  candidate generation is linear, not quadratic. Hyperplanes are
  deterministic (md5-derived ±1 components), so results are
  reproducible and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F, Window


def as_double(vec_col) -> Column:
    return F.transform(vec_col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Brute-force-at-scale shape: the tiny query matrix is shipped in
    the UDF closure (a broadcast), the corpus is scanned ONCE, and
    each Arrow batch computes all similarities as one vectorized
    numpy matmul — SIMD, no per-element interpretation (a Catalyst
    higher-order-function dot product measured ~10x slower). Each
    batch emits only its local top-k per query (safe: the global
    (sim desc, id asc) order is total, so any global winner is a
    batch winner), keeping the shuffle k·batches rows; the exact
    global top-k window then runs on almost nothing.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        corpus.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .collect()
    )
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qv for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            M = np.array(list(pdf["__vec"]), dtype=np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = Mn @ Qn.T  # batch x queries
            out = []
            for j in range(len(qids)):
                s = S[:, j]
                mask = ids != qids[j]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                # total order (sim desc, id asc) → lexsort on (-sim, id)
                order = cand_idx[np.lexsort((ids[cand_idx], -s[cand_idx]))][:k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": ids[order],
                            "__sim": s[order],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    sims = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(batches, "query_id long, neighbor_id long, __sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("__sim", 6).alias("sim"),
            "rn",
        )
    )


def embedding_neardup(
    corpus: DataFrame,
    threshold: float = 0.8,
    n_planes: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = 1024,
    refine_step: int = 4,
    max_levels: int = 3,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed with
    ADAPTIVE bucket refinement.

    Never all-pairs, and never an unbounded bucket either: every row
    gets sign-LSH bucket ids at ``max_levels`` plane depths
    (``n_planes``, ``+refine_step``, ``+2*refine_step`` — prefixes of
    one hyperplane table, all from ONE corpus scan). A row's final
    bucket is the shallowest level whose bucket population is
    ≤ ``max_bucket_size``; oversized buckets therefore re-hash with
    extra planes until they split. Per-level populations come from
    ONE slim aggregation (≤ Σ 2^planes distinct buckets — bounded by
    plane depth, not corpus size) collected driver-side and baked
    into the level-assignment closure — the wide vector rows are
    never shuffled for counting, and no broadcast-join rounds appear
    in the plan.

    Pairs then come from two paths:
    - fast path (everything, normally): per final bucket, one numpy
      pairwise matmul in ``applyInPandas`` — bounded at
      ``max_bucket_size²`` memory per task by construction;
    - degenerate path: buckets STILL oversized at the deepest level
      (e.g. thousands of identical vectors — no hyperplane can split
      them, and their output is inherently O(B²) pairs) switch to a
      bucket-equi self-join with an expression-level cosine: the
      sort-merge join spills instead of OOMing a single task.

    Level selection is deterministic (population thresholds), so the
    result stays oracle-checkable end-to-end.
    """
    import numpy as np
    import pandas as pd

    plane_counts = [n_planes + lv * refine_step for lv in range(max_levels)]
    total = plane_counts[-1]
    H = hyperplane_matrix(total, dims)
    powers = (2 ** np.arange(total)).astype(np.int64)
    bcols = [f"__b{lv}" for lv in range(max_levels)]

    def add_buckets(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            M = np.array(list(pdf["__vec"]), dtype=np.float64)
            bits = ((M @ H.T) > 0).astype(np.int64)
            assigns = {
                bcols[lv]: bits[:, :pc] @ powers[:pc]
                for lv, pc in enumerate(plane_counts)
            }
            yield pdf.assign(**assigns)

    bucket_fields = ", ".join(f"{b} long" for b in bcols)
    # persist the hashed corpus: every consumer below — the per-level
    # population aggregates (×3) and the fast/slow output branches
    # (×2) — would otherwise re-trigger this Python hashing pass
    # through its own lineage (~8 corpus-wide mapInPandas executions
    # measured at sf0.1; 3.4s → 1.3s with the persist). At cluster
    # scale MEMORY_AND_DISK makes the second pass a (spilled) columnar
    # read instead of a recompute — the standard multi-pass trade; the
    # 100 TB alternative is materializing the bucketed table to
    # storage once, which callers can do by persisting upstream.
    from pyspark import StorageLevel

    from maston_spark.caching import scoped_persist

    bucketed = scoped_persist(
        corpus.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
        .mapInPandas(add_buckets, f"__id long, __vec array<double>, {bucket_fields}"),
        StorageLevel.MEMORY_AND_DISK,
    )

    # per-level bucket populations in ONE tiny aggregation: explode
    # to (level, bucket) — 3n slim rows map-side combined down to
    # ≤ Σ 2^planes (~21k at the defaults) groups — then collect. The
    # group count is bounded by the PLANE DEPTH, not the corpus, so
    # the driver collect is safe at 100 TB by construction; baking
    # the count maps into the next pass's closure replaces three
    # broadcast-join rounds (3 exchanges + 3 broadcasts measured as
    # the bulk of the query's stage count) with zero shuffles.
    lv_b = F.explode(
        F.array(
            *[
                F.struct(F.lit(lv).alias("lv"), F.col(bcols[lv]).alias("b"))
                for lv in range(max_levels)
            ]
        )
    ).alias("e")
    counts = (
        bucketed.select(lv_b)
        .groupBy(F.col("e.lv").alias("lv"), F.col("e.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    size_maps: list[dict] = [dict() for _ in range(max_levels)]
    for r in counts:
        size_maps[r["lv"]][r["b"]] = r["c"]
    # degenerate = a deepest-level bucket still over the cap; known
    # driver-side, so the spill-safe join branch is only PLANNED when
    # it has work — the steady-state query is a single-branch plan
    has_degenerate = any(c > max_bucket_size for c in size_maps[-1].values())

    def assign_level(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            k = len(pdf)
            lvl = np.full(k, max_levels - 1, dtype=np.int64)
            bucket = pdf[bcols[-1]].to_numpy(dtype=np.int64, copy=True)
            big = (
                pdf[bcols[-1]].map(size_maps[-1]).to_numpy(dtype=np.int64)
                > max_bucket_size
            )
            undecided = np.ones(k, dtype=bool)
            for lv in range(max_levels - 1):  # shallowest fitting level wins
                sizes = pdf[bcols[lv]].map(size_maps[lv]).to_numpy(dtype=np.int64)
                take = undecided & (sizes <= max_bucket_size)
                lvl[take] = lv
                bucket[take] = pdf[bcols[lv]].to_numpy(dtype=np.int64)[take]
                big[take] = False
                undecided &= ~take
            yield pdf[["__id", "__vec"]].assign(
                lvl=lvl.astype("int32"), bucket=bucket, __big=big
            )

    assigned = bucketed.mapInPandas(
        assign_level, "__id long, __vec array<double>, lvl int, bucket long, __big boolean"
    )

    def bucket_pairs(g: "pd.DataFrame", lv, b) -> "pd.DataFrame":
        ids = g["__id"].to_numpy(dtype=np.int64)
        M = np.array(list(g["__vec"]), dtype=np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Mn.T
        ia, ib = np.nonzero(np.triu(S >= threshold, k=1))
        # canonical id_a < id_b regardless of row order in the bucket
        a, b_ = ids[ia], ids[ib]
        lo, hi = np.minimum(a, b_), np.maximum(a, b_)
        return pd.DataFrame(
            {
                "id_a": lo,
                "id_b": hi,
                "lvl": lv,
                "bucket": b,
                "cosine": np.round(S[ia, ib], 6),
            }
        )

    def pairs_stream(batches):
        # Many buckets per Python invocation instead of
        # groupBy().applyInPandas's one-Arrow-round-trip-per-group:
        # with thousands of cap-sized buckets the per-group worker
        # overhead DOMINATES (measured 2.8s → 0.4s at sf0.1, ~1,900
        # groups). Rows arrive hash-partitioned by (lvl, bucket) and
        # sorted within the partition, so a bucket spans a batch
        # boundary only at the tail — the tail group is carried into
        # the next batch; carry memory is ≤ max_bucket_size rows by
        # fast-path construction.
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if len(pdf) == 0:
                continue
            last_lv = pdf["lvl"].iloc[-1]
            last_b = pdf["bucket"].iloc[-1]
            tail = (pdf["lvl"] == last_lv) & (pdf["bucket"] == last_b)
            carry = pdf[tail]
            body = pdf[~tail]
            outs = [
                bucket_pairs(g, lv, b)
                for (lv, b), g in body.groupby(["lvl", "bucket"], sort=False)
            ]
            outs = [o for o in outs if len(o)]
            if outs:
                yield pd.concat(outs, ignore_index=True)
        if carry is not None and len(carry):
            out = bucket_pairs(carry, carry["lvl"].iloc[0], carry["bucket"].iloc[0])
            if len(out):
                yield out

    out_schema = "id_a long, id_b long, lvl int, bucket long, cosine double"
    fast = (
        assigned.filter(~F.col("__big"))
        .repartition("lvl", "bucket")
        .sortWithinPartitions("lvl", "bucket")
        .mapInPandas(pairs_stream, out_schema)
    )
    if not has_degenerate:
        return fast.select("id_a", "id_b", "lvl", "bucket", "cosine")

    # degenerate buckets (deepest level, still oversized): join-based
    # pair generation — shuffle-native and spill-safe
    big = assigned.filter(F.col("__big"))
    a = big.select(
        "lvl", "bucket", F.col("__id").alias("id_a"), F.col("__vec").alias("__va")
    )
    b = big.select(
        "lvl", "bucket", F.col("__id").alias("id_b"), F.col("__vec").alias("__vb")
    )
    slow = (
        a.join(b, ["lvl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__cos", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("__cos") >= threshold)  # threshold BEFORE rounding, like the fast path
        .select("id_a", "id_b", "lvl", "bucket", F.round("__cos", 6).alias("cosine"))
    )
    return fast.select("id_a", "id_b", "lvl", "bucket", "cosine").unionByName(slow)


def hyperplane_matrix(n_planes: int, dims: int):
    """The deterministic ±1 hyperplanes as a numpy matrix: component
    d of plane p is +1 iff the first hex digit of md5('<p>:<d>') has
    its high bit set, computed driver-side with hashlib (md5 is md5 in
    every engine)."""
    import hashlib

    import numpy as np

    H = np.empty((n_planes, dims), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dims):
            first_hex = hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0]
            H[p, d] = 1.0 if first_hex >= "8" else -1.0
    return H


def lsh_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_planes: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: exact cosine *within* the query's sign-LSH
    bucket, as ONE vectorized corpus scan.

    Buckets for the batch and the (closure-broadcast) query matrix
    are numpy sign bits of ``M @ H.T``; the bucket equality mask
    restricts the cosine top-k to same-bucket rows — no join at all.
    At 100 TB the bucket column is precomputed/persisted with the
    corpus; this operator then reads one bucket-pruned partition set
    per query batch.

    ``max_hamming > 0`` turns this into MULTI-PROBE LSH (Lv et al.
    2007's idea in sign-LSH form): a corpus row is a candidate when
    its bucket differs from the query's in at most ``max_hamming``
    plane bits, widening recall without re-hashing — each probe
    level multiplies candidates by ~C(n_planes, h), still a
    vanishing fraction of the corpus. The mask is an ARITHMETIC
    popcount (SWAR bit-twiddling) on the XOR of bucket ids — O(1)
    scratch per batch regardless of n_planes (a 2**n_planes lookup
    table would be 8 GB per task at n_planes=30), so the scan stays
    one numpy pass.
    """
    import numpy as np
    import pandas as pd

    if not 0 < n_planes <= 62:
        raise ValueError(f"n_planes must be in 1..62, got {n_planes}")
    H = hyperplane_matrix(n_planes, dims)
    powers = (2 ** np.arange(n_planes)).astype(np.int64)

    def popcount64(x: "np.ndarray") -> "np.ndarray":
        # SWAR popcount over uint64 — constant memory, vectorized
        x = x.astype(np.uint64)
        x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
        x = (x & np.uint64(0x3333333333333333)) + (
            (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
        )
        x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(
            np.int64
        )

    def bucket_of(M: "np.ndarray") -> "np.ndarray":
        return ((M @ H.T) > 0).astype(np.int64) @ powers

    q_rows = (
        corpus.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .collect()
    )
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qv for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    qbuckets = bucket_of(Q)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            M = np.array(list(pdf["__vec"]), dtype=np.float64)
            b = bucket_of(M)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = Mn @ Qn.T
            out = []
            for j in range(len(qids)):
                mask = (popcount64(np.bitwise_xor(b, qbuckets[j])) <= max_hamming) & (
                    ids != qids[j]
                )
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                s = S[:, j]
                order = cand_idx[np.lexsort((ids[cand_idx], -s[cand_idx]))][:k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": ids[order],
                            "bucket": b[order],
                            "__sim": s[order],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    sims = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(batches, "query_id long, neighbor_id long, bucket int, __sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "bucket", F.round("__sim", 6).alias("sim"), "rn")
    )


def ivf_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 2,
    centroid_id_base: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other canonical ANN
    scale path next to sign-LSH (:func:`lsh_topk`).

    A coarse quantizer partitions the corpus into cells (each vector
    belongs to its nearest centroid); a query probes only its
    ``nprobe`` nearest cells, so exact cosine runs on ~nprobe/K of
    the corpus. Here the quantizer is ``n_centroids`` deterministic
    seed vectors (ids ``centroid_id_base..+K``) so the result is
    reproducible and oracle-checkable; in production the centroids
    come from an offline k-means over a sample — the engine-side
    plumbing (assign, probe, within-cell search) is identical.

    Executed as ONE vectorized corpus scan: the centroid matrix and
    per-query probe sets ride in the UDF closure (a broadcast); each
    Arrow batch assigns cells and computes all query similarities
    with two numpy matmuls, emitting only local top-k per query. At
    100 TB the cell id is precomputed and the table is PARTITIONED BY
    cell, so a probe reads nprobe partitions and nothing else.
    """
    import numpy as np
    import pandas as pd

    c_rows = (
        corpus.filter(
            (F.col(id_col) >= centroid_id_base)
            & (F.col(id_col) < centroid_id_base + n_centroids)
        )
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cv"))
        .collect()
    )
    # centroid index = vec_id - base, so cell ids are stable 0..K-1
    C = np.empty((n_centroids, len(c_rows[0].cv)), dtype=np.float64)
    for r in c_rows:
        C[r.cid - centroid_id_base] = r.cv
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    q_rows = (
        corpus.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .collect()
    )
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    Q = np.array([r.qv for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    # probe sets: nprobe nearest centroids per query (ties -> low cid,
    # numpy argsort is stable so equal sims keep ascending-cid order)
    qsims = Qn @ Cn.T
    probes = np.argsort(-qsims, axis=1, kind="stable")[:, :nprobe]

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            M = np.array(list(pdf["__vec"]), dtype=np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            # cell assignment: argmax over centroid sims (ties -> low cid)
            cells = np.argmax(Mn @ Cn.T, axis=1)
            S = Mn @ Qn.T
            out = []
            for j in range(len(qids)):
                mask = np.isin(cells, probes[j]) & (ids != qids[j])
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                s = S[:, j]
                order = cand_idx[np.lexsort((ids[cand_idx], -s[cand_idx]))][:k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": ids[order],
                            "cell": cells[order],
                            "__sim": s[order],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    sims = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec")
    ).mapInPandas(batches, "query_id long, neighbor_id long, cell int, __sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id", "neighbor_id", "cell", F.round("__sim", 6).alias("sim"), "rn"
        )
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str = "q_vec",
) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column —
    the standard 4× storage/bandwidth reduction for vector corpora
    (public practice in FAISS/ANN serving: per-vector absmax scale,
    values mapped to [-127, 127]).

    Adds ``<out_col>`` (array<int>), ``q_scale`` (the per-vector
    dequantization factor, absmax/127), and ``q_max_abs_err`` (max
    reconstruction error — the quantization quality witness). Pure
    higher-order column algebra: one codegen projection, no Python,
    no shuffle; at 100 TB this runs at scan speed and the int8 table
    is what ships to the ANN index builder. All-zero vectors get a
    NULL scale and NULL quantized vector (nothing to scale).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # Materialize the absmax ONCE per row before any per-element
    # lambda references it: projection collapse inlines expressions
    # into HOF lambdas by reference count (a lambda counts as one
    # reference even though it evaluates d times), so the naive
    # "scale inside transform" form recomputed the O(d) array_max
    # for EVERY element — O(d²) per row (measured 2.8 s → ~0.4 s at
    # sf0.1 for d=64). The local-checkpoint-free barrier here is a
    # simple two-step select whose intermediate is reused via a
    # cheap attribute; q/err read `q_scale` as a plain column.
    stage = df.select(
        "*",
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("__amax"),
    ).select(
        "*",
        F.when(F.col("__amax") > 0, F.col("__amax") / F.lit(127.0)).alias(
            "q_scale"
        ),
    )
    scale = F.col("q_scale")
    q = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    err = F.array_max(
        F.zip_with(v, q, lambda x, qi: F.abs(x - qi.cast("double") * scale))
    )
    return (
        stage.withColumn(out_col, F.when(scale.isNotNull(), q))
        .withColumn("q_max_abs_err", F.when(scale.isNotNull(), err))
        .drop("__amax")
    )


def _semantic_cells(
    corpus: DataFrame,
    n_centroids: int | None,
    target_cell_rows: int,
    iterations: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared SemDeDup prologue: decimal-exact L2 normalization +
    corpus-scaled Lloyd assignment. Returns (__id, __vec, cell) with
    __vec the 9-decimal-rounded normalized embedding."""
    import math

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    ss = F.round(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, t: a + t
        ),
        9,
    )
    nv = F.transform(v, lambda x: F.round(x / F.sqrt(ss), 9))
    normed = corpus.select(F.col(id_col).alias("__id"), nv.alias("__nv"))
    k = n_centroids
    if k is None:
        k = max(1, math.ceil(corpus.count() / target_cell_rows))
    assigned, _ = _kmeans_fit(
        normed, k, iterations, "__id", "__nv", checkpoint_base=True
    )
    return assigned.select(
        "__id", F.col("__v").alias("__vec"), F.col("__cid").alias("cell")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    target_cell_rows: int = 4096,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    public): cluster embeddings with a coarse quantizer, then WITHIN
    each cell drop every vector that has a near-identical neighbor
    (cosine ≥ ``threshold``) with a smaller id — the deterministic
    keep-one rule, so results are reproducible and oracle-checkable.
    Comparisons never cross cells.

    Quantizer — CORPUS-SCALED, trained: embeddings are L2-normalized
    (decimal-exact: rounded fold for ‖x‖², rounded division, so any
    engine replays it bit-for-bit) and clustered by the shared Lloyd
    fit (:func:`_kmeans_fit` — the SemDeDup paper's k-means-on-the-
    sphere step). ``n_centroids`` defaults to
    ``K = max(1, ceil(n / target_cell_rows))`` from one metadata-cheap
    ``count()``, so EXPECTED cell size tracks ``target_cell_rows``
    (default 4096 ≈ 2 MB of float64 prefix at d=64) no matter how the
    corpus grows — the knob is the per-task residency bound, not a
    magic K. Pass ``n_centroids`` to pin K explicitly.

    Scale shape: rows stream through ``mapInPandas`` sorted by
    (cell, id), and the keep-one rule runs BLOCKWISE — each ≤
    ``block_size`` row-block is compared against the cell's already-
    seen smaller-id prefix one stored block at a time (row-block ×
    prefix-block matmuls with a running min ``evicted_by``), then
    appended to the prefix. Peak scratch per task is one
    ``block_size²`` similarity tile — never the cell² matrix — and
    the only per-cell residency is the prefix of normalized vectors
    (cell × dim float64), the irreducible state of the exact rule —
    ``≈ target_cell_rows × d × 8`` bytes under the default K (a
    skewed cell degrades residency, never correctness: the prefix
    streams block-at-a-time regardless). Prefix scans early-out per
    row: blocks ascend in id, so the first match IS the min id, and
    fully-evicted blocks skip remaining matmuls. The trained cells
    double as the table's partition key at 100 TB.

    Output: one row per vector — its cell (1-based trained-centroid
    id), whether it is KEPT, and the id of the smaller-id
    near-duplicate that evicted it (null for keepers).
    """
    import numpy as np
    import pandas as pd

    cells = _semantic_cells(
        corpus, n_centroids, target_cell_rows, iterations, id_col, vec_col
    )

    def _process_block(ids_blk, Mn_blk, cell, prefix):
        # evicted iff ANY smaller-id vector is within threshold;
        # evicted_by = the smallest such id (order-free rule — exactly
        # mirrorable in set-based SQL, unlike a greedy keeper sweep).
        # Prefix blocks ascend in id and every prefix id < every id in
        # this block, so the first match while scanning prefix blocks
        # in order is the global min; rows with a match need no
        # further comparisons.
        nb = len(ids_blk)
        evicted_by = np.full(nb, -1, dtype=np.int64)
        for p_ids, p_Mn in prefix:
            open_rows = np.flatnonzero(evicted_by < 0)
            if not len(open_rows):
                break
            hit = (Mn_blk[open_rows] @ p_Mn.T) >= threshold
            has = hit.any(axis=1)
            evicted_by[open_rows[has]] = p_ids[hit.argmax(axis=1)[has]]
        open_mask = evicted_by < 0
        if open_mask.any() and nb > 1:
            # within-block pairs: the one bounded block² tile
            tri = np.tril(Mn_blk @ Mn_blk.T >= threshold, k=-1)
            has = tri.any(axis=1)
            cand = np.where(has, ids_blk[tri.argmax(axis=1)], -1)
            evicted_by = np.where(open_mask, cand, evicted_by)
        prefix.append((ids_blk, Mn_blk))
        return pd.DataFrame(
            {
                "vec_id": ids_blk,
                "cell": cell,
                "kept": evicted_by < 0,
                "evicted_by": np.where(evicted_by < 0, None, evicted_by),
            }
        )

    def dedup_cells(batches):
        # rows arrive hash-partitioned by cell and sorted by
        # (cell, id); cells are contiguous, so the only cross-batch
        # state is the CURRENT cell's prefix — no frame concat, no
        # unbounded carry (the per-group applyInPandas overhead
        # lesson from embedding_neardup still applies: many cells
        # stream through one task)
        cur_cell = None
        prefix: list = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells_np = pdf["cell"].to_numpy()
            starts = np.flatnonzero(np.r_[True, cells_np[1:] != cells_np[:-1]])
            for s, e in zip(starts, np.r_[starts[1:], len(pdf)]):
                cell = int(cells_np[s])
                if cell != cur_cell:
                    cur_cell, prefix = cell, []
                g = pdf.iloc[s:e]
                ids = g["__id"].to_numpy(dtype=np.int64)
                order = np.argsort(ids)  # in-batch safety; cheap when sorted
                ids = ids[order]
                M = np.array(list(g["__vec"]), dtype=np.float64)[order]
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                for b in range(0, len(ids), block_size):
                    yield _process_block(
                        ids[b: b + block_size], Mn[b: b + block_size], cell, prefix
                    )

    return (
        cells.repartition("cell")
        .sortWithinPartitions("cell", "__id")
        .mapInPandas(dedup_cells, "vec_id long, cell int, kept boolean, evicted_by long")
    )


def semantic_dedup_quantized(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_centroids: int | None = None,
    target_cell_rows: int = 4096,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 1024,
) -> DataFrame:
    """:func:`semantic_dedup` with an INT8-QUANTIZED prefix — same
    exact keep-one rule, same output, ~6× less per-task residency.

    The per-cell state the exact rule cannot avoid is the prefix of
    already-seen vectors. Here it is held as int8 (per-row absmax
    scale) plus each row's true quantization-residual norm ‖e‖; the
    rule is order-free (ANY smaller-id vector within ``threshold``
    evicts, evictor's own fate irrelevant), so eviction decomposes
    into pairwise checks that can run in two passes:

    1. **Screen (streaming, int8):** for a block row a and prefix
       row b, the integer dot (exact int32 arithmetic) dequantizes to
       ``D̂ = cos + e_a·b + a·e_b + e_a·e_b``, so
       ``cos ≥ th ⟹ D̂ ≥ th − (‖e_a‖+‖e_b‖+‖e_a‖‖e_b‖)`` by
       Cauchy-Schwarz — a SOUND screen: every true eviction pair
       passes it (plus a small near-threshold shell of false
       candidates; ~1% of ‖e‖ at int8/d=64). Within-block pairs are
       checked exactly in float (the block is float-resident anyway).
    2. **Confirm (set-based):** candidate pairs join the normalized
       vectors on both sides and evaluate the EXACT rounded-cosine
       rule as JVM fold expressions — the same comparison the
       all-float path and the SQL oracle make. ``evicted_by`` is the
       min confirmed evictor.

    Per-task prefix bytes: ``cell × (d + 24)`` vs the float path's
    ``cell × 8d`` — 88 vs 512 bytes/row at d=64. The confirm join
    moves only |candidate pairs| rows (true near-dups plus the
    ε-shell), never the corpus.
    """
    import numpy as np
    import pandas as pd

    from maston_spark.caching import scoped_persist

    # three consumers (the screen scan + both sides of the confirm
    # join) — persist so the normalize+Lloyd chain runs once
    cells = scoped_persist(
        _semantic_cells(
            corpus, n_centroids, target_cell_rows, iterations, id_col, vec_col
        )
    )

    def screen_cells(batches):
        # prefix per cell: (ids, Q int8, scales, enorms)
        cur_cell = None
        prefix: list = []

        def quantize(Mn):
            s = np.abs(Mn).max(axis=1)
            s[s == 0] = 1.0
            Q = np.round(Mn / s[:, None] * 127.0).astype(np.int8)
            e = Q.astype(np.float64) * (s[:, None] / 127.0) - Mn
            return Q, s, np.linalg.norm(e, axis=1)

        def emit(ids_blk, Mn_blk, cell):
            nb = len(ids_blk)
            out_id, out_cand = [], []
            Qb, sb, eb = quantize(Mn_blk)
            for p_ids, pQ, ps, pe in prefix:
                # exact int32 dot, then dequantize
                ID = Qb.astype(np.int32) @ pQ.T.astype(np.int32)
                Dhat = ID.astype(np.float64) * (
                    sb[:, None] * ps[None, :] / (127.0 * 127.0)
                )
                eps = eb[:, None] + pe[None, :] + eb[:, None] * pe[None, :]
                rr, cc = np.nonzero(Dhat >= threshold - eps - 1e-9)
                out_id.append(ids_blk[rr])
                out_cand.append(p_ids[cc])
            # within-block pairs: BLAS screen with the same 1e-9
            # slack as the prefix path (the confirm join re-applies
            # the exact rule, so slack only widens candidates — a
            # no-slack screen could drop a boundary pair the exact
            # fold accepts)
            if nb > 1:
                tri = np.tril(Mn_blk @ Mn_blk.T >= threshold - 1e-9, k=-1)
                rr, cc = np.nonzero(tri)
                out_id.append(ids_blk[rr])
                out_cand.append(ids_blk[cc])
            prefix.append((ids_blk, Qb, sb, eb))
            base = pd.DataFrame(
                {
                    "vec_id": ids_blk,
                    "cell": np.full(nb, cell, dtype=np.int32),
                    "cand": np.full(nb, -1, dtype=np.int64),
                }
            )
            if out_id and sum(len(x) for x in out_id):
                cands = pd.DataFrame(
                    {
                        "vec_id": np.concatenate(out_id),
                        "cell": cell,
                        "cand": np.concatenate(out_cand),
                    }
                )
                return pd.concat([base, cands], ignore_index=True)
            return base

        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells_np = pdf["cell"].to_numpy()
            starts = np.flatnonzero(np.r_[True, cells_np[1:] != cells_np[:-1]])
            for st, en in zip(starts, np.r_[starts[1:], len(pdf)]):
                cell = int(cells_np[st])
                if cell != cur_cell:
                    cur_cell, prefix = cell, []
                g = pdf.iloc[st:en]
                ids = g["__id"].to_numpy(dtype=np.int64)
                order = np.argsort(ids)
                ids = ids[order]
                M = np.array(list(g["__vec"]), dtype=np.float64)[order]
                Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
                for b in range(0, len(ids), block_size):
                    yield emit(
                        ids[b : b + block_size], Mn[b : b + block_size], cell
                    )

    screened = (
        cells.repartition("cell")
        .sortWithinPartitions("cell", "__id")
        .mapInPandas(screen_cells, "vec_id long, cell int, cand long")
    )
    base = screened.filter(F.col("cand") < 0).select("vec_id", "cell")
    pairs = screened.filter(F.col("cand") >= 0).select(
        "vec_id", F.col("cand").alias("__evictor")
    )
    nvs = cells.select("__id", "__vec")
    dot = F.aggregate(
        F.zip_with(F.col("__va"), F.col("__vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, t: acc + t
        )
    )
    confirmed = (
        pairs.join(
            nvs.select(
                F.col("__id").alias("vec_id"), F.col("__vec").alias("__va")
            ),
            "vec_id",
        )
        .join(
            nvs.select(
                F.col("__id").alias("__evictor"), F.col("__vec").alias("__vb")
            ),
            "__evictor",
        )
        .filter(
            dot / (nrm(F.col("__va")) * nrm(F.col("__vb")))
            >= F.lit(threshold)
        )
        .groupBy("vec_id")
        .agg(F.min("__evictor").alias("evicted_by"))
    )
    return base.join(confirmed, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.col("evicted_by").isNull().alias("kept"),
        "evicted_by",
    )


def embedding_covariance(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exact covariance matrix of an embedding column — the
    precursor to PCA / ZCA whitening and Mahalanobis ANN (public
    linear algebra; the d x d matrix is eigendecomposed driver-side
    afterwards, it's tiny). Returns the upper triangle as
    ``(i, j, cov)`` rows with the unbiased (N-1) estimator.

    Scale shape: NO self-join — two CHAINED generators (posexplode
    of the vector, then posexplode again per element) emit the d²/2
    per-row products straight into a map-side-combinable hash agg,
    so each task reduces to at most d²/2 partial rows before the
    single shuffle. Per-dimension sums reduce the same way to d rows
    and broadcast back. At d=1024 the generator fan-out is 0.5M rows
    per input row — all consumed inside one codegen stage, never
    materialized or shuffled raw.

    Cross-engine determinism: element products and per-dimension
    sums are rounded to 9 decimals and summed as DECIMAL(38,9)
    (exact, order-independent); the final covariance combines those
    exact sums with IEEE double ops, identical on any engine.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # hash-repartition on the id so pair generation parallelizes by
    # ROW COUNT, not input file layout (a single-file table would
    # otherwise run the whole d²/2 fan-out in one task); the shuffle
    # moves only N·d doubles — 1/d² of the generated volume. The
    # partition count is EXPLICIT: AQE would coalesce this small
    # shuffle to one partition by byte size, which is exactly wrong
    # for a generator whose output is d² times its input.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(F.col(id_col), v.alias("__v")).repartition(
        n_parts, F.col(id_col)
    )
    elems = base.select("__v", F.posexplode("__v").alias("i", "xi"))
    # explode-then-filter beats slicing the tail before the second
    # generator: a per-element dynamic slice allocates a fresh array
    # per (row, i) — O(N·d) copies — while the filter discards rows
    # inside codegen with no allocation (measured 2x)
    pairs = (
        elems.select("i", "xi", F.posexplode("__v").alias("j", "xj"))
        .filter(F.col("j") >= F.col("i"))
        .groupBy("i", "j")
        .agg(
            F.sum(F.round(F.col("xi") * F.col("xj"), 9).cast("decimal(38,9)")).alias(
                "s_ij"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )
    dims = (
        base.select(F.posexplode("__v").alias("i", "xi"))
        .groupBy("i")
        .agg(F.sum(F.round(F.col("xi"), 9).cast("decimal(38,9)")).alias("s"))
    )
    return (
        pairs.join(F.broadcast(dims.select(F.col("i"), F.col("s").alias("s_i"))), "i")
        .join(
            F.broadcast(dims.select(F.col("i").alias("j"), F.col("s").alias("s_j"))),
            "j",
        )
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            # + 0.0 canonicalizes IEEE negative zero (round() of a
            # tiny negative cov yields -0.0, which hashes differently
            # from 0.0 even though it compares equal)
            (
                F.round(
                    (
                        F.col("s_ij").cast("double")
                        - F.col("s_i").cast("double")
                        * F.col("s_j").cast("double")
                        / F.col("n")
                    )
                    / (F.col("n") - 1),
                    6,
                )
                + F.lit(0.0)
            ).alias("cov"),
        )
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd k-means over an embedding column — the
    training step behind every IVF/coarse-quantizer index (public
    algorithm). Deterministic end-to-end: centroids initialize from
    the ``k`` smallest-id vectors, assignment breaks distance ties
    on centroid id after rounding to 9 decimals, and centroid
    updates sum per-dimension as DECIMAL(28,9) (exact,
    order-independent) — so a SQL oracle can replay the identical
    fixed iterations.

    Scale shape per iteration: assignment is a BROADCAST nested-loop
    join of the corpus against k centroid rows (k·N slim rows, never
    a shuffle of the vectors); the squared distance is one
    sequential fold per pair; the update is an explode to
    (cluster, dim) rows feeding a combiner-reduced decimal agg of at
    most k·d groups. The corpus is scanned once per iteration —
    Lloyd's lower bound.
    """
    assigned, _ = _kmeans_fit(df, k, iterations, id_col, vec_col)
    return assigned.select(
        F.col("__id").alias(id_col),
        F.col("__cid").alias("cluster"),
        F.round("__d", 6).alias("sq_dist"),
    )


# Driver-side fit bound (rows). A Lloyd fit runs on a bounded
# training sample by contract (the full-corpus pass is the final
# ASSIGNMENT, which stays distributed); within this bound the whole
# seed+iterate phase is one bounded Arrow collect (~100 MB at
# 100k x 64d), above it the distributed per-iteration path runs.
_DRIVER_FIT_MAX_ROWS = 100_000


def _kmeans_assign_block(X: "np.ndarray", Cb: "np.ndarray"):
    """Exact nearest-centroid argmin over a row block — shared by the
    distributed mapInPandas pass and the driver-side fit loop so the
    two are bit-identical by construction. Returns (centroid row
    indices, rounded exact distances). Per sub-block, a BLAS
    ``‖x‖²−2xCᵀ+‖c‖²`` matrix prunes to the candidates within a
    norm-scaled margin of the block minimum, and only those get the
    EXACT sequential left-fold distance (same IEEE op order as
    F.aggregate / the oracle's list_sum); ties break on centroid
    index after rounding to 9 decimals."""
    import numpy as np

    d_dim = Cb.shape[1]
    cn2 = (Cb * Cb).sum(axis=1)
    # sub-block so the BLAS distance matrix stays ~32 MB
    blk = max(1, (1 << 22) // Cb.shape[0])
    win_c = np.empty(len(X), dtype=np.int64)
    win_d = np.empty(len(X), dtype=np.float64)
    for s in range(0, len(X), blk):
        Xb = X[s : s + blk]
        xx = (Xb * Xb).sum(axis=1)
        D = xx[:, None] - 2.0 * (Xb @ Cb.T) + cn2[None, :]
        m = D.min(axis=1)
        # shortlist margin scales with the squared norms: the
        # expansion's cancellation error is ~eps_mach x
        # (||x||^2 + ||c||^2), so a fixed 1e-6 would under-cover
        # large-magnitude vectors
        marg = 1e-6 + 1e-9 * (xx + cn2.max())
        rr, cc = np.nonzero(D <= (m + marg)[:, None])
        acc = np.zeros(len(rr))
        for i in range(d_dim):
            diff = Xb[rr, i] - Cb[cc, i]
            acc += diff * diff
        dr = np.round(acc, 9)
        order = np.lexsort((cc, dr, rr))
        first = np.unique(rr[order], return_index=True)[1]
        win_c[s : s + len(Xb)] = cc[order][first]
        win_d[s : s + len(Xb)] = dr[order][first]
    return win_c, win_d


def _round9_numerators(X: "np.ndarray") -> "np.ndarray":
    """``round(x, 9)`` for every element, as exact int64 numerators
    (value·10⁹). Spark's round(double, 9) is ``BigDecimal.valueOf(x)
    .setScale(9, HALF_UP)`` — HALF_UP (away from zero) on the
    shortest round-trip decimal string. Vectorized fast path:
    ``floor(x·10⁹ + 0.5)`` equals that whenever x·10⁹ is not within
    the float-product error of a halfway boundary (and rounds toward
    +∞ at exact halves, which only differs AT a boundary); elements
    inside a generous boundary margin fall back to the exact
    ``Decimal(repr(x))`` path (CPython repr = shortest round-trip
    string, same HALF_UP quantize)."""
    import numpy as np

    p = X * 1e9
    # past 2⁶² the int64 cast would silently wrap — take the exact
    # Python-int path (object array; the consumers' unsafe-sum branch
    # already handles arbitrary ints)
    if p.size and not np.all(np.abs(p[np.isfinite(p)]) < 2.0**62):
        from decimal import ROUND_HALF_UP, Decimal

        q9 = Decimal("1e-9")
        return np.array(
            [
                int(
                    Decimal(repr(float(v))).quantize(
                        q9, rounding=ROUND_HALF_UP
                    )
                    * 1_000_000_000
                )
                for v in X.reshape(-1)
            ],
            dtype=object,
        ).reshape(X.shape)
    n0 = np.floor(p + 0.5)
    # boundary margin: |x·10⁹| · 4·eps (float product + repr offset)
    # plus an absolute floor — far wider than the true error, and the
    # slow path is exact anyway. From 2⁵³ on a double no longer holds
    # every integer, so x·10⁹ there is off by up to its ulp: those
    # elements take the exact path too, and its results go into the
    # int64 buffer, never back through a double.
    dist = np.abs((p - np.floor(p)) - 0.5)
    tol = 1e-6 + np.abs(p) * 1e-12
    suspicious = (dist < tol) | ~np.isfinite(p) | (np.abs(p) >= 2.0**53)
    out = n0.astype(np.int64)
    if suspicious.any():
        from decimal import ROUND_HALF_UP, Decimal

        q9 = Decimal("1e-9")
        flat = out.reshape(-1)
        xf = X.reshape(-1)
        for i in np.flatnonzero(suspicious.reshape(-1)):
            v = Decimal(repr(float(xf[i]))).quantize(q9, rounding=ROUND_HALF_UP)
            if v.is_finite():  # NaN keeps its cast value (no NaN/Inf guard yet)
                flat[i] = int(v * 1_000_000_000)
    return out


def _kmeans_update_exact(X: "np.ndarray", cids: "np.ndarray"):
    """Driver-side replay of the distributed decimal-exact centroid
    update: per (cluster, dim), ``round(sum(round(x, 9) ::
    decimal(28,9)) :: double / n, 9)``. The decimal(28,9) sum is an
    exact integer-numerator sum (:func:`_round9_numerators` + int64
    reduce — overflow-guarded into Python ints); its double cast is
    CPython's correctly-rounded int/int true division (the same
    correctly-rounded value BigDecimal.doubleValue returns), the /n
    is the same IEEE division, and the final round-9 replays HALF_UP
    on the shortest round-trip string. Returns (C, sorted present
    cluster ids) exactly as the distributed collect did."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    q9 = Decimal("1e-9")
    N = _round9_numerators(X)
    present = sorted(int(c) for c in np.unique(cids))
    C = np.empty((len(present), X.shape[1]), dtype=np.float64)
    # int64 reduce is exact while n_rows·max|numerator| < 2⁶³; past
    # that, sum in Python ints (exact, slower — contract-violating
    # magnitudes only)
    amax = int(np.abs(N).max()) if N.size else 0
    safe = amax * (len(X) + 1) < (1 << 62)
    for row, c in enumerate(present):
        members = N[cids == c]
        n = len(members)
        if safe:
            sums = members.sum(axis=0, dtype=np.int64)
            s_ints = [int(s) for s in sums]
        else:
            s_ints = [int(sum(int(v) for v in members[:, j]))
                      for j in range(N.shape[1])]
        for j, s_int in enumerate(s_ints):
            # decimal(38,9) → double: correctly-rounded value of the
            # exact rational s_int/10⁹ (CPython int/int truediv is
            # correctly rounded); then the IEEE /n and the round-9
            m = (s_int / 1_000_000_000) / n
            C[row, j] = float(
                Decimal(repr(m)).quantize(q9, rounding=ROUND_HALF_UP)
            )
    return C, present


def _kmeans_fit(
    df: DataFrame,
    k: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    checkpoint_base: bool = False,
    return_fit: bool = False,
):
    """Shared Lloyd fit (see :func:`kmeans_lloyd` for the discipline).
    Returns ``(assigned, centroids)`` — the final assignment frame
    (``__id``, ``__v``, ``__cid``, ``__d``) and the centroid frame
    (``__cid``, ``__c``) USED for that final assignment, so a caller
    (e.g. :func:`ivf_pq_topk`) can probe queries against exactly the
    cells the corpus was partitioned by.

    Assignment is a BLOCKWISE NUMPY SCAN against broadcast centroids
    (the faiss coarse-assign shape), not a k·N row join: per block,
    a BLAS ``‖x‖²−2xCᵀ+‖c‖²`` matrix prunes to the candidates within
    1e-6 of the block minimum, and only those few get the EXACT
    sequential left-fold distance the oracle replays (the fold and
    the expansion differ by ≲1e-12, and rounding to 9 decimals can
    only flip a winner within 2e-9 — so every possible winner is in
    the shortlist and the reported ``__d``/argmin are bit-identical
    to folding every pair). With K ∝ corpus (semantic_dedup's
    corpus-scaled quantizer) the k·N DataFrame join shuffled k·N
    vector-carrying rows per iteration; this shape moves only the
    k×d centroid matrix (broadcast) and N result rows.

    The centroid UPDATE stays a DataFrame agg — explode to
    (cluster, dim), decimal-exact mean, collect k×d back (the
    bounded centroid collect every Lloyd implementation has).

    Round-17 (guide §2.6 — driver barriers; VERDICT r16 #1): the
    training table is bounded by the operator contract (a k-means
    fit runs on a sampled/bounded training set, never the raw
    100 TB corpus), so the WHOLE fit — seed + the intermediate
    assignment/update iterations — runs driver-side over ONE
    bounded Arrow collect when the table is within
    ``_DRIVER_FIT_MAX_ROWS``: the per-iteration fleet-wide barriers
    (seed collect + one full assignment scan + two-shuffle decimal
    agg + collect PER intermediate iteration) collapse to one job.
    The final DISTRIBUTED assignment pass is unchanged (same numpy
    kernel), and the driver update replays the distributed decimal
    semantics exactly (:func:`_kmeans_update_exact`). Above the
    bound the pre-round-17 distributed iteration path runs
    unchanged — no driver OOM risk at scale.
    """
    import numpy as np

    spark = df.sparkSession
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = df.select(F.col(id_col).alias("__id"), v.alias("__v"))
    # round-16 (guide §5): the fit drives one ACTION per iteration
    # (the centroid-update collect) plus the seed collect plus every
    # downstream consumer — when the caller's upstream is EXPENSIVE
    # per scan (semantic_dedup's decimal-exact normalize fold), each
    # re-ran it without this lineage cut. Opt-in: for a cheap
    # projected parquet scan (the IVF builds, kmeans_lloyd) the
    # checkpoint write + lost scan fusion measured strictly WORSE
    # (q153 3.9→4.4 s, q158 5.1→5.9 s), while the normalize-heavy
    # path measured 4.9→3.1 s (q94).
    if checkpoint_base:
        base = base.localCheckpoint(eager=False)
    out_schema = "__id long, __v array<double>, __cid int, __d double"

    def assign_with(Cm: "np.ndarray", cids: list[int]):
        bc = spark.sparkContext.broadcast(
            (Cm, np.array(cids, dtype=np.int32))
        )

        def fn(it):
            Cb, cid_arr = bc.value
            if Cb.shape[0] == 0:
                return
            for pdf in it:
                if len(pdf) == 0:
                    continue
                X = np.array(list(pdf["__v"]), dtype=np.float64)
                win_c, win_d = _kmeans_assign_block(X, Cb)
                yield pdf.assign(__cid=cid_arr[win_c], __d=win_d)

        return base.mapInPandas(fn, out_schema)

    head = base.limit(_DRIVER_FIT_MAX_ROWS + 1).toPandas()
    fit = None
    if 0 < len(head) <= _DRIVER_FIT_MAX_ROWS:
        # Bounded table: whole fit driver-side in ONE job. Seed = the
        # k smallest-id vectors (identical to the orderBy/limit seed);
        # intermediate assignments run the SAME exact numpy kernel the
        # distributed pass runs; updates replay the distributed
        # decimal agg bit-for-bit (_kmeans_update_exact).
        srt = head.sort_values("__id", kind="mergesort").head(k)
        ids_all = head["__id"].to_numpy()
        X_all = np.array(
            [list(vv) for vv in head["__v"]], dtype=np.float64
        )
        C = np.array([list(vv) for vv in srt["__v"]], dtype=np.float64)
        cid_list = list(range(1, len(srt) + 1))
        for _ in range(max(0, iterations - 1)):
            if C.shape[0] == 0:
                break
            idx, _d = _kmeans_assign_block(X_all, C)
            cids_arr = np.array(cid_list, dtype=np.int64)[idx]
            C, cid_list = _kmeans_update_exact(X_all, cids_arr)
        if iterations <= 0:
            assigned = base.mapInPandas(lambda it: iter([]), out_schema)
        else:
            assigned = assign_with(C, cid_list)
        # driver-side fit data for callers that can push MORE bounded
        # metadata work driver-side (probe sets, PQ training — the
        # q293 discipline)
        fit = (ids_all, X_all, C, list(cid_list))
    elif len(head) == 0:
        cid_list = []
        C = np.zeros((0, 0), dtype=np.float64)
        if iterations <= 0:
            assigned = base.mapInPandas(lambda it: iter([]), out_schema)
        else:
            assigned = assign_with(C, cid_list)
    else:
        # Above the driver-fit contract bound: the distributed
        # iteration path (one assignment scan + decimal update agg +
        # bounded centroid collect per intermediate iteration).
        seed = sorted(
            base.orderBy("__id").limit(k).collect(), key=lambda r: r["__id"]
        )
        cid_list = list(range(1, len(seed) + 1))
        C = np.array([r["__v"] for r in seed], dtype=np.float64)
        assigned = base.mapInPandas(lambda it: iter([]), out_schema)
        for it in range(iterations):
            assigned = assign_with(C, cid_list)
            if it == iterations - 1:
                break
            dims = assigned.select(
                "__cid", F.posexplode("__v").alias("__dim", "__x")
            )
            upd = (
                dims.groupBy("__cid", "__dim")
                .agg(
                    F.sum(F.round(F.col("__x"), 9).cast("decimal(28,9)")).alias(
                        "__s"
                    ),
                    F.count(F.lit(1)).alias("__n"),
                )
                .select(
                    "__cid",
                    "__dim",
                    F.round(F.col("__s").cast("double") / F.col("__n"), 9).alias(
                        "__m"
                    ),
                )
            )
            cent_rows = sorted(
                upd.groupBy("__cid")
                .agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct(F.col("__dim"), F.col("__m")))
                        ),
                        lambda s: s["__m"],
                    ).alias("__c")
                )
                .collect(),
                key=lambda r: r["__cid"],
            )
            cid_list = [r["__cid"] for r in cent_rows]
            C = np.array([r["__c"] for r in cent_rows], dtype=np.float64)
    if cid_list:
        centroids = spark.createDataFrame(
            [
                (int(c), [float(x) for x in vec])
                for c, vec in zip(cid_list, C)
            ],
            "__cid int, __c array<double>",
        )
    else:
        centroids = spark.createDataFrame([], "__cid int, __c array<double>")
    if return_fit:
        # (ids, X, final C, final cid_list) — None above the bound or
        # for iterations <= 0 / empty fits (callers fall back to the
        # distributed plumbing in those cases)
        if fit is not None and iterations >= 1 and len(cid_list) > 0:
            return assigned, centroids, fit
        return assigned, centroids, None
    return assigned, centroids


def rp_project(
    df: DataFrame,
    out_dim: int = 16,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim``
    components with a deterministic ±1 matrix (Achlioptas 2003):
    ``y_j = (1/√k) Σ_i sign(j,i) · x_i`` with k = ``out_dim`` — the
    standard JL normalization, under which E‖y‖² = ‖x‖² and pairwise
    DISTANCES (not just relative geometry) are preserved within the
    JL distortion bound. Sign is drawn from the same md5 convention
    as the LSH hyperplanes. The dimensionality reduction that feeds
    cheap ANN / clustering when d is large — and, unlike PCA, it
    needs no training pass, no eigensolver, and is exactly
    reproducible on any engine.

    Exactness: with ±1 entries the per-term product is a sign flip,
    and for power-of-two k the 1/√k scale is exact — every term is
    ±x_i/√k with NO rounding, so the decimal-summed components are
    bit-identical cross-engine. Output is long format
    ``(id, component j, y)``.

    Scale shape: the term generator is the q104 class — explode to
    n·d·k rows after an explicit-count repartition (AQE would
    coalesce the slim pre-fan-out shuffle), then one combiner-reduced
    hash agg down to n·k rows. The projection matrix never
    materializes anywhere.
    """
    k = int(out_dim)
    x = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    ).select(
        id_col, F.posexplode(as_double(F.col(vec_col))).alias("__i", "__xi")
    )
    terms = x.select(
        id_col,
        "__i",
        "__xi",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__j"),
    )
    sign = F.when(
        F.substring(
            F.md5(F.concat(F.lit("rp:"), F.col("__j"), F.lit(":"), F.col("__i"))),
            1,
            1,
        )
        >= "8",
        F.lit(1.0),
    ).otherwise(F.lit(-1.0))
    term = (F.col("__xi") * sign) / F.sqrt(F.lit(k).cast("double"))
    return (
        terms.groupBy(id_col, F.col("__j").alias("component"))
        .agg(
            F.round(
                F.sum(F.round(term, 9).cast("decimal(28,9)")).cast("double"), 6
            ).alias("y")
        )
    )


def label_centroid_similarity(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label embedding centroids and their pairwise cosine — the
    class-separation diagnostic run before trusting labels for
    stratified sampling or classifier-based filtering (two labels
    whose centroids sit at cosine ~1 are not separable classes).
    Returns one row per unordered label pair:
    ``(label_a, label_b, n_a, n_b, cosine)``.

    Distributed shape: the corpus is touched ONCE — a posexplode
    generator feeds a (label, dim) hash agg with map-side combine,
    so at most |labels| x d partial rows leave each task; everything
    after (norms, the dim-keyed centroid self-join, the pair agg)
    operates on |labels| x d rows, which is KB-sized at any corpus
    scale. Cross-engine determinism: per-dimension sums and all dot
    products are rounded to 9 decimals and summed as DECIMAL(38,9)
    (exact, order-independent); the final cosine combines those
    exact sums with IEEE double ops (division, sqrt — both correctly
    rounded per IEEE 754, identical on any engine).
    """
    from maston_spark.caching import scoped_persist

    x = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(
            F.transform(F.col(vec_col), lambda v: v.cast("double"))
        ).alias("dim", "x"),
    )
    cent = scoped_persist(
        x.groupBy("label", "dim")
        .agg(
            F.sum(F.round("x", 9).cast("decimal(38,9)")).alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(
            "label",
            "dim",
            "n",
            (F.col("s").cast("double") / F.col("n")).alias("c"),
        )
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.round(F.col("c") * F.col("c"), 9).cast("decimal(38,9)")).alias(
            "nrm"
        ),
        F.max("n").alias("n_vectors"),
    )
    dots = (
        cent.select(F.col("label").alias("label_a"), "dim", F.col("c").alias("ca"))
        .join(
            cent.select(
                F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
            ),
            "dim",
        )
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(
                F.round(F.col("ca") * F.col("cb"), 9).cast("decimal(38,9)")
            ).alias("dot")
        )
    )
    return (
        dots.join(
            F.broadcast(
                norms.select(
                    F.col("label").alias("label_a"),
                    F.col("nrm").alias("nrm_a"),
                    F.col("n_vectors").alias("n_a"),
                )
            ),
            "label_a",
        )
        .join(
            F.broadcast(
                norms.select(
                    F.col("label").alias("label_b"),
                    F.col("nrm").alias("nrm_b"),
                    F.col("n_vectors").alias("n_b"),
                )
            ),
            "label_b",
        )
        .select(
            "label_a",
            "label_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.when(
                (F.col("nrm_a") > 0) & (F.col("nrm_b") > 0),
                # + 0.0 canonicalizes IEEE -0.0 (a tiny negative dot
                # rounds to -0.0, which hashes unlike 0.0 cross-engine)
                F.round(
                    F.col("dot").cast("double")
                    / F.sqrt(
                        F.col("nrm_a").cast("double")
                        * F.col("nrm_b").cast("double")
                    ),
                    6,
                )
                + F.lit(0.0),
            ).alias("cosine"),
        )
        .orderBy("label_a", "label_b")
    )


def ann_recall(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_planes: int = 6,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_hamming: int = 0,
) -> DataFrame:
    """Recall@k of the sign-LSH ANN path against the exact
    brute-force baseline — the evaluation harness that decides
    whether an ANN configuration (plane count, probe depth) is good
    enough to replace the exact scan at corpus scale. Returns one
    ``(query_id, n_exact, n_hits, recall)`` row per query.

    Distributed shape: both sides reuse the existing operators
    (:func:`cosine_topk` — one corpus scan, per-batch local top-k;
    :func:`lsh_topk` — bucket equi-join candidates). Their outputs
    are k rows per query, so the comparison join and the per-query
    agg run on |queries| x k rows — driver-free and negligible at
    any corpus size.
    """
    exact = cosine_topk(corpus, query_ids, k=k, id_col=id_col, vec_col=vec_col)
    approx = lsh_topk(
        corpus, query_ids, k=k, n_planes=n_planes, dims=dims,
        id_col=id_col, vec_col=vec_col, max_hamming=max_hamming,
    )
    hits = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("__hit").cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact"), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


def int8_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k retrieval in the int8-quantized domain: vectors are
    absmax-quantized (:func:`quantize_embeddings` — the exact
    transform q83 hash-verifies cross-engine) and ranked by the raw
    INTEGER dot product of quantized vectors. Every score is exact
    int64 arithmetic, so the ranking is bit-deterministic on any
    engine — no float summation order anywhere past quantization.
    Note the metric: per-vector absmax scaling makes the integer dot
    an (amax-normalized) similarity, not the raw float dot — closer
    to cosine when vector norms are comparable; :func:`int8_recall`
    measures exactly that gap.

    Scale shape mirrors :func:`cosine_topk`: tiny quantized query
    matrix in the closure, ONE corpus scan, per-batch numpy int64
    matmul, local top-k per batch (the (dot desc, id asc) order is
    total), exact global top-k window on k·batches rows. At 100 TB
    the int8 corpus is 4× smaller to scan than the float one — that,
    plus integer SIMD, is the point of quantized retrieval.
    """
    import numpy as np
    import pandas as pd

    qz = (
        quantize_embeddings(corpus, vec_col=vec_col)
        .select(F.col(id_col).alias("__id"), F.col("q_vec").alias("__qv"))
        # all-zero vectors have no quantized form (NULL scale) and can
        # never rank: drop them before the matmul
        .filter(F.col("__qv").isNotNull())
    )
    q_rows = qz.filter(F.col("__id").isin(query_ids)).collect()
    qids = np.array([r["__id"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["__qv"] for r in q_rows], dtype=np.int64)

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            M = np.array(list(pdf["__qv"]), dtype=np.int64)
            D = M @ Q.T  # exact int64: |q| <= 127, d = 64 -> far from overflow
            out = []
            for j in range(len(qids)):
                d = D[:, j]
                cand_idx = np.nonzero(ids != qids[j])[0]
                if len(cand_idx) == 0:
                    continue
                order = cand_idx[np.lexsort((ids[cand_idx], -d[cand_idx]))][:k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": ids[order],
                            "dot": d[order],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    sims = qz.mapInPandas(
        batches, "query_id long, neighbor_id long, dot long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dot").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "dot", "rn")
    )


def int8_recall(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of int8-dot retrieval against the exact float cosine
    baseline — what 4× compression costs in ranking quality. Same
    |queries|×k comparison shape as :func:`ann_recall`."""
    exact = cosine_topk(corpus, query_ids, k=k, id_col=id_col, vec_col=vec_col)
    approx = int8_topk(corpus, query_ids, k=k, id_col=id_col, vec_col=vec_col)
    hits = exact.select("query_id", "neighbor_id").join(
        approx.select("query_id", "neighbor_id").withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return (
        hits.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("__hit").cast("long").alias("n_hits"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_exact"), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


def _pq_train(
    df: DataFrame,
    m: int,
    sub_dim: int,
    k: int,
    id_col: str,
    vec_col: str,
):
    """Shared PQ training: explode subvectors, seed codebooks from
    the k smallest-id vectors, run ONE deterministic Lloyd iteration.
    Returns (sub, codebook) — the exploded (id, subspace, subvector)
    frame and the trained (subspace, cid, centroid) frame (m·k
    rows)."""
    v = as_double(F.col(vec_col))
    sub = df.select(
        F.col(id_col).alias("__id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("__s"),
                        F.slice(v, s * sub_dim + 1, sub_dim).alias("__sv"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("__e"),
    ).select("__id", F.col("__e.__s").alias("__s"), F.col("__e.__sv").alias("__sv"))
    # round-16: three consumers (codebook seed, the Lloyd assignment,
    # and the caller's final _pq_assign) — persist the m-way exploded
    # subvector table so the explode pipeline runs once (guide §5)
    from maston_spark.caching import scoped_persist

    sub = scoped_persist(sub)
    first_ids = (
        df.select(F.col(id_col).alias("__id"))
        .orderBy("__id")
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy("__id")).cast("int").alias("__cid"),
            "__id",
        )
    )
    cent0 = sub.join(F.broadcast(first_ids), "__id").select(
        "__s", "__cid", F.col("__sv").alias("__c")
    )
    w = Window.partitionBy("__id", "__s").orderBy(
        F.col("__d").asc(), F.col("__cid").asc()
    )
    a1 = (
        sub.join(F.broadcast(cent0), "__s")
        .select("__id", "__s", "__sv", "__cid", _pq_dist().alias("__d"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    upd = (
        a1.select("__s", "__cid", F.posexplode("__sv").alias("__dim", "__x"))
        .groupBy("__s", "__cid", "__dim")
        .agg(
            (
                F.round(
                    F.sum(F.round("__x", 9).cast("decimal(28,9)")).cast("double")
                    / F.count(F.lit(1)),
                    9,
                )
            ).alias("__m")
        )
    )
    codebook = upd.groupBy("__s", "__cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__dim", "__m"))),
            lambda t: t["__m"],
        ).alias("__c")
    )
    return sub, codebook


def _pq_dist() -> Column:
    return F.round(
        F.aggregate(
            F.zip_with(F.col("__sv"), F.col("__c"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        9,
    )


def _pq_assign(sub: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-codebook-centroid assignment per (vector, subspace):
    broadcast the m·k codebook, one fold per pair, deterministic
    (distance, cid) tie-break. Returns (__id, __s, __cid, __d)."""
    w = Window.partitionBy("__id", "__s").orderBy(
        F.col("__d").asc(), F.col("__cid").asc()
    )
    return (
        sub.join(F.broadcast(codebook), "__s")
        .select("__id", "__s", "__cid", _pq_dist().alias("__d"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )


def _round9_exact_doubles(X: "np.ndarray") -> "np.ndarray":
    """Exact elementwise replay of Spark's ``F.round(x, 9)`` on
    doubles: ``BigDecimal.valueOf(x).setScale(9, HALF_UP)
    .doubleValue()``. Fast path: ``floor(x·10⁹ + 0.5) / 10⁹`` — the
    numerator is exact HALF_UP away from boundaries and the single
    divide by the exactly representable 1e9 is correctly rounded (=
    ``doubleValue``). Elements near a halfway boundary, non-finite,
    or with |x·10⁹| ≥ 2⁵² (float product loses integer precision)
    take the exact ``Decimal(repr(x))`` path; NaN/±Inf pass through
    unchanged, as Spark's round does."""
    import math

    import numpy as np

    p = X * 1e9
    n0 = np.floor(p + 0.5)
    dist = np.abs((p - np.floor(p)) - 0.5)
    tol = 1e-6 + np.abs(p) * 1e-12
    with np.errstate(invalid="ignore"):
        suspicious = (dist < tol) | ~np.isfinite(p) | (np.abs(p) >= 2.0**52)
    out = n0 / 1e9
    if suspicious.any():
        from decimal import ROUND_HALF_UP, Decimal

        q9 = Decimal("1e-9")
        flat = out.reshape(-1)
        xf = X.reshape(-1)
        for i in np.flatnonzero(suspicious.reshape(-1)):
            v = float(xf[i])
            if not math.isfinite(v):
                flat[i] = v
            else:
                flat[i] = float(
                    Decimal(repr(v)).quantize(q9, rounding=ROUND_HALF_UP)
                )
    return out


def _fold_round9(SV: "np.ndarray", Cs: "np.ndarray") -> "np.ndarray":
    """The EXACT rounded doubles of the sequential-fold squared
    distance from every row of ``SV`` (n×dim) to every centroid row
    of ``Cs`` (k'×dim) — the same IEEE op order as :func:`_pq_dist` /
    :func:`_sq_l2` (``((0.0+d₀)+d₁)+…``), then the exact round-9
    replay. Spark orders/compares these as doubles, so comparing the
    returned values replays its (distance, cid) tie-breaks."""
    import numpy as np

    acc = np.zeros((len(SV), len(Cs)))
    for j in range(SV.shape[1]):
        diff = SV[:, j, None] - Cs[None, :, j]
        acc += diff * diff
    return _round9_exact_doubles(acc)


def _pq_subvectors(X: "np.ndarray", s: int, sub_dim: int) -> "np.ndarray":
    """Replay ``F.slice(v, s*sub_dim+1, sub_dim)`` on the collected
    matrix (a short final block when d is not a multiple of sub_dim
    slices identically)."""
    return X[:, s * sub_dim : (s + 1) * sub_dim]


def _pq_fit_usable(X: "np.ndarray", m: int, sub_dim: int, k: int) -> bool:
    """Driver PQ replay precondition: every subspace slice non-empty
    (an EMPTY slice diverges — Spark's posexplode of the empty
    subvector drops that subspace from the codebook entirely) and at
    least one seed centroid."""
    return k >= 1 and len(X) > 0 and X.shape[1] > (m - 1) * sub_dim


def _pq_train_exact(ids: "np.ndarray", X: "np.ndarray", m: int, sub_dim: int, k: int):
    """Driver-side replay of :func:`_pq_train` over the bounded
    collected corpus: seed each subspace's codebook from the k
    smallest-id subvectors (cid 1..k in id order), one Lloyd
    assignment under the exact fold/round-9/(distance, cid) tie
    discipline, then the decimal(28,9)-exact mean update
    (:func:`_kmeans_update_exact` — the same formula _pq_train's
    DataFrame agg computes). Returns ``{s: (cids sorted asc, Cs)}``
    with only the non-empty clusters, exactly as the distributed
    groupBy emits."""
    import numpy as np

    order = np.argsort(ids, kind="stable")[: min(k, len(ids))]
    cb = {}
    for s in range(m):
        SV = _pq_subvectors(X, s, sub_dim)
        C0 = SV[order]
        d0 = _fold_round9(SV, C0)
        # first min = lowest row index = lowest cid (rows are in cid
        # order 1..k) — the (__d asc, __cid asc) row_number tie-break
        cids1 = np.argmin(d0, axis=1) + 1
        Cs, present = _kmeans_update_exact(SV, cids1)
        cb[s] = (np.array(present, dtype=np.int64), Cs)
    return cb


def _pq_encode_exact(ids: "np.ndarray", X: "np.ndarray", cb, m: int, sub_dim: int):
    """Replay :func:`_pq_assign` driver-side: nearest codebook
    centroid per (vector, subspace) with the exact rounded-distance /
    cid-ascending tie-break. Returns a pandas frame
    ``(__id, __s, __cid, __d)`` in deterministic order."""
    import numpy as np
    import pandas as pd

    parts = []
    for s in sorted(cb):
        cids, Cs = cb[s]
        SV = _pq_subvectors(X, s, sub_dim)
        d = _fold_round9(SV, Cs)
        j = np.argmin(d, axis=1)  # first min = smallest cid (sorted asc)
        parts.append(
            pd.DataFrame(
                {
                    "__id": ids.astype(np.int64),
                    "__s": np.full(len(ids), s, dtype=np.int32),
                    "__cid": cids[j].astype(np.int32),
                    "__d": d[np.arange(len(ids)), j],
                }
            )
        )
    return pd.concat(parts, ignore_index=True)


def _pq_qtable_exact(Q: "np.ndarray", cb, m: int, sub_dim: int):
    """The ADC distance table for query-vector rows ``Q`` against the
    FULL codebook — one row per (query row, subspace, codebook cid)
    with the exact rounded fold distance. Returns
    ``(row_idx, __s, __cid, __qd)`` numpy columns; the caller attaches
    its own labels (query_id / probed cell) by ``row_idx``."""
    import numpy as np

    r_parts, s_parts, c_parts, d_parts = [], [], [], []
    for s in sorted(cb):
        cids, Cs = cb[s]
        SV = _pq_subvectors(Q, s, sub_dim)
        d = _fold_round9(SV, Cs)  # (nq, k')
        nq, kc = d.shape
        r_parts.append(np.repeat(np.arange(nq), kc))
        s_parts.append(np.full(nq * kc, s, dtype=np.int32))
        c_parts.append(np.tile(cids, nq).astype(np.int32))
        d_parts.append(d.reshape(-1))
    return (
        np.concatenate(r_parts),
        np.concatenate(s_parts),
        np.concatenate(c_parts),
        np.concatenate(d_parts),
    )


def _pq_bounded_collect(df: DataFrame, id_col: str, vec_col: str):
    """ONE bounded Arrow collect of (id, vector-as-double) — or None
    past :data:`_DRIVER_FIT_MAX_ROWS`, in which case the caller runs
    the distributed PQ path unchanged (no driver OOM risk at 100 TB).
    Same discipline as the :func:`_kmeans_fit` driver fit."""
    import numpy as np

    base = df.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    head = base.limit(_DRIVER_FIT_MAX_ROWS + 1).toPandas()
    if 0 < len(head) <= _DRIVER_FIT_MAX_ROWS:
        ids = head["__id"].to_numpy()
        X = np.array([list(vv) for vv in head["__v"]], dtype=np.float64)
        return ids, X
    return None


def pq_codes(
    df: DataFrame,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011 — the PQ
    half of IVF-PQ, the index layout ANN serving actually uses at
    corpus scale): split each vector into ``m`` contiguous
    ``sub_dim``-dim subvectors, train a tiny ``k``-centroid
    codebook per subspace with ONE deterministic Lloyd iteration
    (same init/tie/update discipline as :func:`kmeans_lloyd`), and
    emit each vector's code per subspace plus its quantization
    error. d-dim float32 vectors compress to m log2(k)-bit codes —
    the 32×–64× memory cut that lets a 100 TB corpus' index fit in
    RAM. Returns ``(vec_id, subspace, code, sq_dist)`` rows.

    Distributed shape: ONE generator explodes each row to its m
    subvectors (consumed inside codegen); every later stage keys on
    the subspace, so all m codebooks train in the SAME broadcast
    joins and combiner aggregations — no per-subspace jobs, no
    driver loops; the corpus is scanned once per Lloyd phase, m·k
    codebook rows broadcast.
    """
    # round-17 (guide §1.2 step 1 — the q293 discipline, VERDICT r16):
    # the encode corpus is bounded by the fit contract, so within the
    # bound the whole train+assign (explode, 2 broadcast joins, 2
    # windows, 2 decimal aggs) collapses to one bounded collect +
    # exact driver replay; the distributed path runs unchanged past it.
    data = _pq_bounded_collect(df, id_col, vec_col)
    if data is not None and _pq_fit_usable(data[1], m, sub_dim, k):
        ids, X = data
        cb = _pq_train_exact(ids, X, m, sub_dim, k)
        assigned = df.sparkSession.createDataFrame(
            _pq_encode_exact(ids, X, cb, m, sub_dim),
            "__id long, __s int, __cid int, __d double",
        )
    else:
        sub, codebook = _pq_train(df, m, sub_dim, k, id_col, vec_col)
        assigned = _pq_assign(sub, codebook)
    return (
        assigned
        .select(
            F.col("__id").alias(id_col),
            F.col("__s").alias("subspace"),
            F.col("__cid").alias("code"),
            (F.round("__d", 6) + F.lit(0.0)).alias("sq_dist"),
        )
        .orderBy(id_col, "subspace")
    )


def pq_adc_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k_neighbors: int = 3,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — the search
    half of IVF-PQ: each query precomputes an m×k table of squared
    distances from its subvectors to every codebook centroid; a
    candidate's approximate distance is then the SUM of m table
    lookups selected by its stored codes, never a d-dim float op per
    candidate. Returns ``(query_id, neighbor_id, adc_dist, rn)``.

    Distributed shape: the distance table is |queries|·m·k rows
    (KB-sized, broadcast); the corpus side is its CODES — m ints per
    vector instead of d floats, the whole point of PQ — joined to
    the table on (subspace, code) and summed per (query, vector)
    with map-side combine (decimal-exact, order-independent). At
    100 TB the scan reads the compact code table; the original
    vectors are never touched after encoding.
    """
    # round-17: bounded corpus → exact driver replay of train + encode
    # + the query ADC table (see pq_codes); distributed fallback past
    # the bound.
    data = _pq_bounded_collect(corpus, id_col, vec_col)
    if data is not None and _pq_fit_usable(data[1], m, sub_dim, k):
        import numpy as np

        ids, X = data
        spark = corpus.sparkSession
        cb = _pq_train_exact(ids, X, m, sub_dim, k)
        codes = spark.createDataFrame(
            _pq_encode_exact(ids, X, cb, m, sub_dim),
            "__id long, __s int, __cid int, __d double",
        ).select("__id", "__s", "__cid")
        qsel = np.flatnonzero(np.isin(ids, np.asarray(query_ids)))
        ridx, scol, ccol, dcol = _pq_qtable_exact(X[qsel], cb, m, sub_dim)
        import pandas as pd

        qtable = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": ids[qsel][ridx].astype(np.int64),
                    "__s": scol,
                    "__cid": ccol,
                    "__qd": dcol,
                }
            ),
            "query_id long, __s int, __cid int, __qd double",
        )
    else:
        sub, codebook = _pq_train(corpus, m, sub_dim, k, id_col, vec_col)
        codes = _pq_assign(sub, codebook).select("__id", "__s", "__cid")
        qtable = (
            sub.filter(F.col("__id").isin(query_ids))
            .join(F.broadcast(codebook), "__s")
            .select(
                F.col("__id").alias("query_id"),
                "__s",
                "__cid",
                _pq_dist().alias("__qd"),
            )
        )
    adc = (
        codes.join(F.broadcast(qtable), ["__s", "__cid"])
        .filter(F.col("__id") != F.col("query_id"))
        .groupBy("query_id", F.col("__id").alias("neighbor_id"))
        .agg(
            F.sum(F.col("__qd").cast("decimal(38,9)"))
            .cast("double")
            .alias("__dist")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k_neighbors)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("__dist", 6) + F.lit(0.0)).alias("adc_dist"),
            "rn",
        )
        .orderBy("query_id", "rn")
    )


def _sq_l2(a: Column, b: Column) -> Column:
    """Squared L2 as a sequential zip_with fold, rounded to 9
    decimals — the same left-to-right summation a SQL oracle's list
    fold performs, so the value is bit-identical cross-engine."""
    return F.round(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        9,
    )


def l2_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k by brute force — the ground-truth
    baseline the L2-metric ANN paths (:func:`ivf_pq_topk`) are
    recall-measured against, as pure DataFrame algebra: the |q|
    query rows broadcast against ONE corpus scan, one sequential
    fold per pair (codegen, no Python), per-query top-k via a
    row_number window over the |q|·N slim distance rows with a total
    (distance, id) order. Returns ``(query_id, neighbor_id,
    sq_dist, rn)``."""
    v = as_double(F.col(vec_col))
    base = corpus.select(F.col(id_col).alias("__id"), v.alias("__v"))
    q = base.filter(F.col("__id").isin(query_ids)).select(
        F.col("__id").alias("query_id"), F.col("__v").alias("__qv")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__d").asc(), F.col("neighbor_id").asc()
    )
    return (
        base.join(F.broadcast(q))
        .filter(F.col("__id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("__id").alias("neighbor_id"),
            _sq_l2(F.col("__v"), F.col("__qv")).alias("__d"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("__d", 6) + F.lit(0.0)).alias("sq_dist"),
            "rn",
        )
        .orderBy("query_id", "rn")
    )


def _ivf_probes_exact(
    ids: "np.ndarray",
    X: "np.ndarray",
    C: "np.ndarray",
    cid_list: "list[int]",
    query_ids: list[int],
    nprobe: int,
):
    """Replay the IVF probe window driver-side from the fit data:
    per query vector present in the corpus, :func:`_sq_l2` distances
    to every final centroid (exact fold + round-9 doubles), ordered
    by (distance, cid), first ``nprobe``. Returns
    ``[(query_id, qv list, cell)]`` rows — the same (query_id, __qv,
    cell) frame the qv×cents window emitted."""
    import numpy as np

    rows = []
    if len(cid_list) == 0 or len(X) == 0:
        return rows
    cids = np.array(cid_list, dtype=np.int64)
    qsel = np.flatnonzero(np.isin(ids, np.asarray(query_ids)))
    if len(qsel) == 0:
        return rows
    D = _fold_round9(X[qsel], C)
    for row, i in enumerate(qsel):
        order = np.lexsort((cids, D[row]))[:nprobe]
        qv = [float(x) for x in X[i]]
        for j in order:
            rows.append((int(ids[i]), qv, int(cids[j])))
    return rows


def _ivf_pq_build(
    corpus: DataFrame,
    query_ids: list[int],
    n_cells: int,
    nprobe: int,
    iterations: int,
    id_col: str,
    vec_col: str,
):
    """Shared IVF front half: Lloyd-train ``n_cells`` coarse cells
    (:func:`_kmeans_fit`), assign the corpus, probe each query's
    ``nprobe`` nearest cells against the SAME final centroids, and
    emit the candidate set. Returns
    ``(cell, __nid, __nv, query_id, __qv)`` — one row per
    (query, candidate) pair, ~``nprobe/n_cells`` of the corpus per
    query and never an all-pairs product."""
    from maston_spark.caching import scoped_persist

    assigned, cents, fit = _kmeans_fit(
        corpus, n_cells, iterations, id_col, vec_col, return_fit=True
    )
    if fit is not None:
        # round-17 (q293 discipline): the probe set is pure fit
        # metadata — replay the _sq_l2 window driver-side, leaving
        # ONE consumer of `assigned` (the cells projection), so the
        # whole front half is a single corpus scan and no persist.
        ids_all, X_all, C, cid_list = fit
        probes = corpus.sparkSession.createDataFrame(
            _ivf_probes_exact(ids_all, X_all, C, cid_list, query_ids, nprobe),
            "query_id long, __qv array<double>, cell int",
        )
    else:
        # round-16 (guide §5 caching rule — persist iff reused AND
        # recompute is expensive): TWO subtrees (candidate cells + the
        # query-vector filter) otherwise re-run the scan +
        # Python-boundary numpy assignment
        assigned = scoped_persist(assigned)
        qv = assigned.filter(F.col("__id").isin(query_ids)).select(
            F.col("__id").alias("query_id"), F.col("__v").alias("__qv")
        )
        wp = Window.partitionBy("query_id").orderBy(
            F.col("__pd").asc(), F.col("__cid").asc()
        )
        probes = (
            qv.join(F.broadcast(cents))
            .select(
                "query_id", "__qv", "__cid",
                _sq_l2(F.col("__qv"), F.col("__c")).alias("__pd"),
            )
            .withColumn("__prn", F.row_number().over(wp))
            .filter(F.col("__prn") <= nprobe)
            .select("query_id", "__qv", F.col("__cid").alias("cell"))
        )
    cells = assigned.select(
        F.col("__id").alias("__nid"),
        F.col("__cid").alias("cell"),
        F.col("__v").alias("__nv"),
    )
    cand = cells.join(F.broadcast(probes), "cell").filter(
        F.col("__nid") != F.col("query_id")
    )
    return cand, fit


def ivf_pq_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k_neighbors: int = 3,
    n_cells: int = 4,
    nprobe: int = 2,
    iterations: int = 2,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate nearest neighbors (Jégou et al. 2011 — the
    index layout large-scale ANN serving actually runs): Lloyd-trained
    coarse cells prune the corpus to each query's ``nprobe`` nearest
    cells (:func:`_ivf_pq_build`), and the surviving candidates are
    scored by ASYMMETRIC DISTANCE — m table lookups on their stored
    PQ codes (:func:`_pq_train` / :func:`_pq_assign`), never a d-dim
    float op per candidate. Returns ``(query_id, neighbor_id, cell,
    adc_dist, rn)``, rn ≤ ``k_neighbors``.

    100 TB shape — why this is THE scale path: (1) the corpus table
    is partitioned by ``cell``, so a probe reads ``nprobe/n_cells``
    of the files and nothing else (the same directory-pruning
    mechanics as q57's IVF, now with trained cells); (2) past
    encoding, search touches only the CODE table — m small ints per
    vector, a 32–64× scan reduction — the float vectors are never
    read again; (3) everything per-query that joins the corpus
    (probe set, m·k ADC table) is KB-sized and broadcast, so the
    whole search is one shuffle-free scan of the pruned code
    partitions plus a |q|·k-row top-k window. Deterministic
    end-to-end (decimal-exact sums, (distance, id) tie-breaks), so a
    SQL oracle replays it bit-for-bit.
    """
    cand, fit = _ivf_pq_build(
        corpus, query_ids, n_cells, nprobe, iterations, id_col, vec_col
    )
    return _ivf_pq_adc(
        cand.select("query_id", "__nid", "cell"),
        corpus, query_ids, k_neighbors, m, sub_dim, k, id_col, vec_col,
        fit=fit,
    )


def _ivf_pq_adc(
    cand: DataFrame,
    corpus: DataFrame,
    query_ids: list[int],
    k_neighbors: int,
    m: int,
    sub_dim: int,
    k: int,
    id_col: str,
    vec_col: str,
    fit=None,
) -> DataFrame:
    """ADC-scoring back half of IVF-PQ over a prebuilt candidate
    frame (query_id, __nid, cell) — factored out so harnesses that
    already ran :func:`_ivf_pq_build` (e.g. :func:`ivf_pq_recall`)
    score its candidates without re-training the coarse cells.

    With the coarse fit's bounded collect in hand (``fit`` — round
    17), the PQ train/encode/query-table all replay exactly
    driver-side (see :func:`pq_codes`) and ship as broadcast local
    relations: the SECOND corpus scan, the m-way explode, two
    windows and two decimal aggs disappear from the plan."""
    if fit is not None and _pq_fit_usable(fit[1], m, sub_dim, k):
        import numpy as np
        import pandas as pd

        ids_all, X_all = fit[0], fit[1]
        spark = corpus.sparkSession
        cb = _pq_train_exact(ids_all, X_all, m, sub_dim, k)
        codes = F.broadcast(
            spark.createDataFrame(
                _pq_encode_exact(ids_all, X_all, cb, m, sub_dim),
                "__id long, __s int, __cid int, __d double",
            ).select(F.col("__id").alias("__nid"), "__s", "__cid")
        )
        qsel = np.flatnonzero(np.isin(ids_all, np.asarray(query_ids)))
        ridx, scol, ccol, dcol = _pq_qtable_exact(X_all[qsel], cb, m, sub_dim)
        qtable = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": ids_all[qsel][ridx].astype(np.int64),
                    "__s": scol,
                    "__cid": ccol,
                    "__qd": dcol,
                }
            ),
            "query_id long, __s int, __cid int, __qd double",
        )
    else:
        sub, codebook = _pq_train(corpus, m, sub_dim, k, id_col, vec_col)
        codes = _pq_assign(sub, codebook).select(
            F.col("__id").alias("__nid"), "__s", "__cid"
        )
        qtable = (
            sub.filter(F.col("__id").isin(query_ids))
            .join(F.broadcast(codebook), "__s")
            .select(
                F.col("__id").alias("query_id"), "__s", "__cid",
                _pq_dist().alias("__qd"),
            )
        )
    adc = (
        cand.join(codes, "__nid")
        .join(F.broadcast(qtable), ["query_id", "__s", "__cid"])
        .groupBy("query_id", F.col("__nid").alias("neighbor_id"), "cell")
        .agg(
            F.sum(F.col("__qd").cast("decimal(38,9)"))
            .cast("double")
            .alias("__dist")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k_neighbors)
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            (F.round("__dist", 6) + F.lit(0.0)).alias("adc_dist"),
            "rn",
        )
        .orderBy("query_id", "rn")
    )


def ivf_pq_recall(
    corpus: DataFrame,
    query_ids: list[int],
    k_neighbors: int = 3,
    n_cells: int = 4,
    nprobe: int = 2,
    iterations: int = 2,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k harness that DECOMPOSES the IVF-PQ error budget:
    against the exact brute-force L2 top-k (:func:`l2_topk`), it
    measures (a) IVF-FLAT — exact L2 restricted to the probed cells,
    i.e. pure cell-pruning loss — and (b) IVF-PQ — the same
    candidates scored by ADC, adding the quantization loss. One row
    per query: ``(query_id, n_exact, hits_flat, recall_flat,
    hits_pq, recall_pq)``; recall_flat − recall_pq is what PQ
    compression costs, 1 − recall_flat is what probing too few cells
    costs — the two knobs (nprobe, m·k) an operator tunes at corpus
    scale. Comparison joins run on |q|·k rows — negligible anywhere.
    """
    exact = l2_topk(
        corpus, query_ids, k=k_neighbors, id_col=id_col, vec_col=vec_col
    )
    cand, fit = _ivf_pq_build(
        corpus, query_ids, n_cells, nprobe, iterations, id_col, vec_col
    )
    if fit is not None:
        # fit path leaves `assigned` unpersisted (single consumer in
        # the build); here cand feeds TWO subtrees (flat + ADC), so
        # persist the candidate frame instead (guide §5)
        from maston_spark.caching import scoped_persist

        cand = scoped_persist(cand)
    wf = Window.partitionBy("query_id").orderBy(
        F.col("__fd").asc(), F.col("__nid").asc()
    )
    flat = (
        cand.select(
            "query_id", "__nid", _sq_l2(F.col("__nv"), F.col("__qv")).alias("__fd")
        )
        .withColumn("__rn", F.row_number().over(wf))
        .filter(F.col("__rn") <= k_neighbors)
        .select("query_id", F.col("__nid").alias("neighbor_id"), F.lit(1).alias("__f"))
    )
    pq = _ivf_pq_adc(
        cand.select("query_id", "__nid", "cell"),
        corpus, query_ids, k_neighbors, m, sub_dim, k, id_col, vec_col,
        fit=fit,
    ).select("query_id", "neighbor_id", F.lit(1).alias("__p"))
    j = (
        exact.select("query_id", "neighbor_id")
        .join(flat, ["query_id", "neighbor_id"], "left")
        .join(pq, ["query_id", "neighbor_id"], "left")
    )
    n = F.count(F.lit(1))
    return (
        j.groupBy("query_id")
        .agg(
            n.cast("long").alias("n_exact"),
            F.count("__f").cast("long").alias("hits_flat"),
            F.round(F.count("__f") / n, 6).alias("recall_flat"),
            F.count("__p").cast("long").alias("hits_pq"),
            F.round(F.count("__p") / n, 6).alias("recall_pq"),
        )
        .orderBy("query_id")
    )


def ivf_pq_residual_topk(
    corpus: DataFrame,
    query_ids: list[int],
    k_neighbors: int = 3,
    n_cells: int = 4,
    nprobe: int = 2,
    iterations: int = 2,
    m: int = 8,
    sub_dim: int = 8,
    k: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding — the formulation Jegou et al.
    2011 actually specify (and faiss's IndexIVFPQ implements):
    each vector is PQ-encoded as ``r = x − centroid(cell(x))``
    instead of raw ``x``. Residuals concentrate around the origin,
    so the same m·k codebook budget quantizes them with far less
    error than raw vectors spread across all cells —
    :func:`ivf_pq_topk` (raw encoding) is the simpler sibling; this
    is what a production index stores.

    The search-side consequence: the query's ADC table is built from
    the query's residual AGAINST EACH PROBED CELL's centroid (the
    residual is cell-relative), so there are ``nprobe`` m×k tables
    per query instead of one — still KB-sized, still broadcast.
    Candidates in cell L are scored by the (query, L) table on their
    stored codes; the float vectors are never read after encoding.

    100 TB shape is identical to ``ivf_pq_topk`` — cell-partitioned
    code table, broadcast probe set and ADC tables, one shuffle-free
    scan of the probed partitions — plus one extra broadcast join
    (cells → centroids) at ENCODING time to form residuals.
    Deterministic end-to-end; the SQL oracle replays it exactly.
    """
    # one shared fit: assignment for encoding, centroids for both the
    # residuals and the probe distances (the _ivf_pq_build plumbing,
    # inlined so the fit runs once)
    from maston_spark.caching import scoped_persist

    assigned, cents, fit = _kmeans_fit(
        corpus, n_cells, iterations, id_col, vec_col, return_fit=True
    )
    if fit is not None and _pq_fit_usable(fit[1], m, sub_dim, k):
        # round-17 (q293 discipline): residual encoding is pure fit
        # metadata within the bounded-collect contract — the final
        # assignment replays the SAME numpy kernel the distributed
        # pass runs, residuals are the same elementwise IEEE
        # subtraction zip_with performs, and the PQ train/encode/
        # per-(query, cell) ADC tables replay exactly driver-side
        # (see pq_codes). The plan keeps ONE corpus scan (the
        # distributed assignment feeding `cells`); the residual join,
        # the second corpus scan, the m-way explodes and the train
        # windows/aggs all disappear.
        import numpy as np
        import pandas as pd

        ids_all, X_all, C, cid_list = fit
        spark = corpus.sparkSession
        idx, _d = _kmeans_assign_block(X_all, C)
        Rall = X_all - C[idx]
        cb = _pq_train_exact(ids_all, Rall, m, sub_dim, k)
        codes = F.broadcast(
            spark.createDataFrame(
                _pq_encode_exact(ids_all, Rall, cb, m, sub_dim),
                "__id long, __s int, __cid int, __d double",
            ).select(F.col("__id").alias("__nid"), "__s", "__cid")
        )
        probe_rows = _ivf_probes_exact(
            ids_all, X_all, C, cid_list, query_ids, nprobe
        )
        probes = spark.createDataFrame(
            [(q, c) for q, _qv, c in probe_rows],
            "query_id long, cell int",
        )
        # per-(query, probed cell) residual ADC tables
        row_of_id = {int(i): r for r, i in enumerate(ids_all)}
        row_of_cid = {int(c): r for r, c in enumerate(cid_list)}
        if probe_rows:
            Q = np.array(
                [
                    X_all[row_of_id[q]] - C[row_of_cid[c]]
                    for q, _qv, c in probe_rows
                ],
                dtype=np.float64,
            )
        else:
            Q = np.zeros((0, X_all.shape[1]), dtype=np.float64)
        ridx, scol, ccol, dcol = _pq_qtable_exact(Q, cb, m, sub_dim)
        lab_q = np.array([q for q, _qv, c in probe_rows], dtype=np.int64)
        lab_c = np.array([c for q, _qv, c in probe_rows], dtype=np.int64)
        qtable = spark.createDataFrame(
            pd.DataFrame(
                {
                    "query_id": lab_q[ridx] if len(ridx) else lab_q[:0],
                    "cell": (lab_c[ridx] if len(ridx) else lab_c[:0]).astype(
                        np.int32
                    ),
                    "__s": scol,
                    "__cid": ccol,
                    "__qd": dcol,
                }
            ),
            "query_id long, cell int, __s int, __cid int, __qd double",
        )
        cells = assigned.select(
            F.col("__id").alias("__nid"),
            F.col("__cid").alias("cell"),
        )
        build = cells.join(F.broadcast(probes), "cell").filter(
            F.col("__nid") != F.col("query_id")
        )
    else:
        # round-16 (guide §5): THREE subtrees (cells, the query filter,
        # the residual encode) consume the assignment — persist so the
        # scan + numpy assign runs once
        assigned = scoped_persist(assigned)
        cells = assigned.select(
            F.col("__id").alias("__nid"),
            F.col("__cid").alias("cell"),
        )
        qv = assigned.filter(F.col("__id").isin(query_ids)).select(
            F.col("__id").alias("query_id"), F.col("__v").alias("__qv")
        )
        wp = Window.partitionBy("query_id").orderBy(
            F.col("__pd").asc(), F.col("__cid").asc()
        )
        probes = (
            qv.join(F.broadcast(cents))
            .select(
                "query_id", "__qv", "__cid",
                _sq_l2(F.col("__qv"), F.col("__c")).alias("__pd"),
            )
            .withColumn("__prn", F.row_number().over(wp))
            .filter(F.col("__prn") <= nprobe)
            .select("query_id", "__qv", F.col("__cid").alias("cell"))
        )
        build = cells.join(F.broadcast(probes), "cell").filter(
            F.col("__nid") != F.col("query_id")
        )
        residual = F.zip_with(
            F.col("__v"), F.col("__c"), lambda x, y: x - y
        )  # plain IEEE subtraction — bit-identical cross-engine
        res = assigned.join(F.broadcast(cents), "__cid").select(
            F.col("__id").alias("rid"), residual.alias("rv")
        )
        sub, codebook = _pq_train(res, m, sub_dim, k, "rid", "rv")
        codes = _pq_assign(sub, codebook).select(
            F.col("__id").alias("__nid"), "__s", "__cid"
        )
        # per-(query, probed cell) residual → nprobe ADC tables per query
        qres = (
            probes.select("query_id", "cell", "__qv")
            .join(
                F.broadcast(cents.select(F.col("__cid").alias("cell"), "__c")),
                "cell",
            )
            .select(
                "query_id",
                "cell",
                F.zip_with(F.col("__qv"), F.col("__c"), lambda x, y: x - y).alias(
                    "__rq"
                ),
            )
        )
        qsub = qres.select(
            "query_id",
            "cell",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("__s"),
                            F.slice(F.col("__rq"), s * sub_dim + 1, sub_dim).alias(
                                "__sv"
                            ),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("__e"),
        ).select(
            "query_id", "cell",
            F.col("__e.__s").alias("__s"), F.col("__e.__sv").alias("__sv"),
        )
        qtable = qsub.join(F.broadcast(codebook), "__s").select(
            "query_id", "cell", "__s", "__cid", _pq_dist().alias("__qd")
        )
    adc = (
        build.select("query_id", "__nid", "cell")
        .join(codes, "__nid")
        .join(F.broadcast(qtable), ["query_id", "cell", "__s", "__cid"])
        .groupBy("query_id", F.col("__nid").alias("neighbor_id"), "cell")
        .agg(
            F.sum(F.col("__qd").cast("decimal(38,9)"))
            .cast("double")
            .alias("__dist")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k_neighbors)
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            (F.round("__dist", 6) + F.lit(0.0)).alias("adc_dist"),
            "rn",
        )
        .orderBy("query_id", "rn")
    )


def hard_negatives(
    corpus: DataFrame,
    query_ids: "list[int]",
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training: for each anchor
    vector, the top-k most-similar vectors with a DIFFERENT label —
    ``(query_id, neighbor_id, neighbor_label, sim, rn)``. The
    highest-similarity wrong-label examples are the negatives that
    actually move a contrastive loss (random negatives are trivially
    separated); this is the corpus sweep every embedding-training
    pipeline runs between epochs (e.g. the ANCE/DPR hard-negative
    refresh), expressed as :func:`cosine_topk`'s broadcast-anchor
    scan with a label-exclusion mask.

    Scale shape identical to cosine_topk: anchors + labels ship in
    the closure (broadcast), the corpus is scanned once, each Arrow
    batch emits only its local top-k per anchor (safe — the global
    (sim desc, id asc) order is total), and the exact global top-k
    window runs over k·batches·|anchors| rows.
    """
    import numpy as np
    import pandas as pd  # noqa: F401

    q_rows = (
        corpus.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("qid"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("ql"),
        )
        .collect()
    )
    qids = np.array([r.qid for r in q_rows], dtype=np.int64)
    qlab = np.array([r.ql for r in q_rows], dtype=np.int64)
    Q = np.array([r.qv for r in q_rows], dtype=np.float64)
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            labs = pdf["__lab"].to_numpy(dtype=np.int64)
            M = np.array(list(pdf["__vec"]), dtype=np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = Mn @ Qn.T
            out = []
            for j in range(len(qids)):
                s = S[:, j]
                mask = (labs != qlab[j]) & (ids != qids[j])
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                order = cand_idx[np.lexsort((ids[cand_idx], -s[cand_idx]))][:k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qids[j],
                            "neighbor_id": ids[order],
                            "neighbor_label": labs[order],
                            "__sim": s[order],
                        }
                    )
                )
            if out:
                yield pd.concat(out)

    sims = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.col(label_col).cast("long").alias("__lab"),
    ).mapInPandas(
        batches,
        "query_id long, neighbor_id long, neighbor_label long, __sim double",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("__sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("__sim", 6).alias("sim"),
            "rn",
        )
    )


def mmr_rerank(
    corpus: DataFrame,
    query_id: int,
    k: int = 5,
    lam: float = 0.7,
    mu: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein
    1998): pick ``k`` results one at a time maximizing
    ``lam·rel(c) − mu·max_{s∈selected} cos(c, s)`` — relevance
    traded against redundancy, the diversified-retrieval step every
    RAG stack runs after ANN so the context window isn't k copies of
    the same passage. One row per pick:
    ``(step, vec_id, score, rel)``. Pass ``mu`` explicitly when bit
    parity with an external replay matters (``1 - lam`` computed in
    IEEE is NOT the decimal literal: 1 − 0.7 = 0.30000000000000004).

    Greedy selection is the same driver-bounded iteration discipline
    as Lloyd/greedy-coverage: the relevance table computes once (one
    corpus scan); each of the k steps joins candidates against the
    ≤k-row broadcast selected set for the redundancy penalty, takes
    a 1-row argmax (ties → smallest id), and never collects the
    corpus. Cosines evaluate through the fold-form :func:`cosine`,
    measured bit-equal to DuckDB's list_cosine_similarity, so the
    chained argmax replays cross-engine."""
    if mu is None:
        mu = 1.0 - lam
    spark = corpus.sparkSession
    q_row = (
        corpus.filter(F.col(id_col) == query_id)
        .select(F.col(vec_col).cast("array<double>").alias("qv"))
        .collect()
    )
    if not q_row:
        raise ValueError(f"query id {query_id!r} not in corpus")
    qlit = F.array(*[F.lit(float(x)) for x in q_row[0].qv])
    rel_df = (
        corpus.filter(F.col(id_col) != query_id)
        .select(
            F.col(id_col).alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
        .withColumn("rel", cosine(F.col("cv"), qlit))
        .persist()
    )
    sel: list = []
    out_rows = []
    try:
        for step in range(1, k + 1):
            cand = rel_df
            if sel:
                cand = cand.filter(
                    ~F.col("cid").isin([i for i, _ in sel])
                )
                sel_df = spark.createDataFrame(
                    [(i, list(v)) for i, v in sel], "sid long, sv array<double>"
                )
                cand = (
                    cand.crossJoin(F.broadcast(sel_df))
                    .groupBy("cid", "rel")
                    .agg(F.max(cosine(F.col("cv"), F.col("sv"))).alias("mp"))
                )
            else:
                cand = cand.select("cid", "rel", F.lit(0.0).alias("mp"))
            scored = cand.withColumn(
                "score", F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("mp")
            )
            top = (
                scored.orderBy(F.desc("score"), F.asc("cid")).limit(1).collect()
            )
            if not top:
                break
            pick = top[0]
            vec = (
                rel_df.filter(F.col("cid") == pick["cid"])
                .select("cv")
                .collect()[0]
                .cv
            )
            sel.append((pick["cid"], vec))
            out_rows.append(
                (step, pick["cid"], float(pick["score"]), float(pick["rel"]))
            )
        res = spark.createDataFrame(
            out_rows, "step int, vec_id long, score double, rel double"
        )
        return res.select(
            "step",
            "vec_id",
            F.round("score", 6).alias("score"),
            F.round("rel", 6).alias("rel"),
        )
    finally:
        rel_df.unpersist()


def davies_bouldin(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Davies-Bouldin cluster-quality audit over the
    :func:`kmeans_lloyd` cells — per cluster ``(cluster, n_rows,
    scatter, r_max, db_index)``: within-cluster scatter
    ``S_i = sqrt(mean ‖x−c_i‖²)`` (the q=2 Davies-Bouldin 1979
    form), the worst similarity ratio ``R_i = max_{j≠i}
    (S_i+S_j)/‖c_i−c_j‖``, and the overall index (mean R_i, lower =
    tighter/better-separated cells) — the "are these cells even
    good" check that semantic dedup's keep-one-per-cell step
    (:func:`semantic_dedup`) otherwise assumes. A cell with r_max ≫
    the others overlaps its neighbor: its keep-one deletions are
    suspect.

    Exactness/scale: ONE corpus pass (the Lloyd assignment's own
    ``‖x−c‖²``, already on the 9-grid, sums per cluster as exact
    decimal(38,9)); everything after is k-bounded — centroid pair
    distances fold 9-grid NANO-INTEGER coordinate diffs into exact
    decimal(38,0) (one sqrt each; precondition |coordinate| < 10),
    r_max is a max over k−1 identical IEEE doubles, and the index
    averages round-9 lanes exactly before its one closing division.
    Empty cells (possible under Lloyd) drop — scatter is undefined,
    so they simply don't compete. Rows/centroids never meet in a
    shuffle: centroids are a broadcast k-row frame."""
    assigned, cent = _kmeans_fit(df, k, iterations, id_col, vec_col)
    per = assigned.groupBy("__cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("__d").cast("decimal(38,9)")).alias("__sd"),
    )
    scat = per.select(
        "__cid",
        "n_rows",
        F.sqrt(
            F.col("__sd").cast("double") / F.col("n_rows").cast("double")
        ).alias("__s"),
    )
    nano = lambda c: F.round(c * F.lit(1000000000.0), 0).cast("decimal(19,0)")  # noqa: E731
    ci = cent.select(F.col("__cid").alias("__ci"), F.col("__c").alias("__ca"))
    cj = cent.select(F.col("__cid").alias("__cj"), F.col("__c").alias("__cb"))
    m2 = F.aggregate(
        F.zip_with(
            "__ca", "__cb", lambda a, b: (nano(a) - nano(b)) * (nano(a) - nano(b))
        ),
        F.lit(0).cast("decimal(38,0)"),
        lambda acc, x: acc + x,
    )
    pairs = (
        ci.crossJoin(F.broadcast(cj))
        .filter(F.col("__ci") != F.col("__cj"))
        .select(
            "__ci",
            "__cj",
            F.sqrt(m2.cast("double") / F.lit(1e18)).alias("__m"),
        )
    )
    si = scat.select(F.col("__cid").alias("__ci"), F.col("__s").alias("__si"))
    sj = scat.select(F.col("__cid").alias("__cj"), F.col("__s").alias("__sj"))
    r = (
        pairs.join(F.broadcast(si), "__ci")
        .join(F.broadcast(sj), "__cj")
        .groupBy("__ci")
        .agg(
            F.max(
                (F.col("__si") + F.col("__sj")) / F.col("__m")
            ).alias("__rmax")
        )
    )
    ix = r.agg(
        (
            F.sum(F.round(F.col("__rmax"), 9).cast("decimal(38,9)")).cast(
                "double"
            )
            / F.count("__rmax").cast("double")
        ).alias("__dbi")
    )
    return (
        scat.join(F.broadcast(r), scat["__cid"] == r["__ci"], "left")
        .crossJoin(F.broadcast(ix))
        .select(
            F.col("__cid").alias("cluster"),
            "n_rows",
            F.round(F.col("__s"), 6).alias("scatter"),
            F.round(F.col("__rmax"), 6).alias("r_max"),
            F.round(F.col("__dbi"), 6).alias("db_index"),
        )
        .orderBy("cluster")
    )


def silhouette_centroid(
    df: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Centroid-approximated (simplified) silhouette over the
    :func:`kmeans_lloyd` cells — per cluster ``(cluster, n_rows,
    mean_silhouette, n_negative)`` with per-point
    ``s = (b−a)/max(a,b)`` where ``a = ‖x−c_own‖`` and ``b = min_{j≠
    own} ‖x−c_j‖`` (Hruschka et al.'s simplified silhouette; s→1
    well-placed, s<0 likely mis-assigned). ``n_negative`` is the
    per-cell count of points that sit closer to ANOTHER centroid —
    the direct list of candidates semantic dedup would delete from
    the wrong cell.

    The EXACT silhouette is rejected by contract: its ``a``/``b``
    are means over all point PAIRS — Σn_i² work that a 100 TB corpus
    turns into the all-pairs explosion every operator here is built
    to avoid. The centroid approximation is the standard bounded
    form: one broadcast of k centroid rows against the corpus (k·N
    slim distance folds, no shuffle of vectors), per-point close,
    one combiner-reduced per-cluster aggregation. Exactness: the
    distance folds are the Lloyd assignment's own round-9 sequential
    folds; per-point s rounds to the 9-grid and per-cluster means
    fold the integer nano-lanes exactly before ONE closing division
    (round 6); a point exactly on its centroid with no nearer rival
    at 0 emits s = 0 (degenerate, documented)."""
    assigned, cent = _kmeans_fit(df, k, iterations, id_col, vec_col)
    allp = assigned.select("__id", "__v", "__cid", "__d").crossJoin(
        F.broadcast(cent.select(F.col("__cid").alias("__cj"), "__c"))
    )
    sq = F.round(
        F.aggregate(
            F.zip_with("__v", "__c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        9,
    )
    o = (
        allp.filter(F.col("__cj") != F.col("__cid"))
        .select("__id", "__cid", "__d", sq.alias("__sq"))
        .groupBy("__id", "__cid", "__d")
        .agg(F.min("__sq").alias("__bsq"))
    )
    a = F.sqrt(F.col("__d"))
    b = F.sqrt(F.col("__bsq"))
    sil = F.when(
        F.greatest(a, b) > 0, (b - a) / F.greatest(a, b)
    ).otherwise(F.lit(0.0))
    lane = F.round(F.round(sil, 9) * F.lit(1000000000.0), 0).cast("long")
    per = (
        o.select(F.col("__cid"), lane.alias("__l"))
        .groupBy("__cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("__l").cast("decimal(38,0)")).alias("__sl"),
            F.coalesce(
                F.sum((F.col("__l") < 0).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("n_negative"),
        )
    )
    return per.select(
        F.col("__cid").alias("cluster"),
        "n_rows",
        F.round(
            F.col("__sl").cast("double")
            / (F.col("n_rows").cast("double") * F.lit(1e9)),
            6,
        ).alias("mean_silhouette"),
        "n_negative",
    ).orderBy("cluster")
