"""Goldens for the LLM-data-pipeline operators: dedup families,
similarity search, text analysis. Small hand-built corpora with
known duplicate structure; the sf0.001 tables for integration."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from maston_spark.llm.dedup import (
    jaccard_verify,
    minhash_lsh_candidates,
    shingles,
)
from maston_spark.llm.similarity import cosine, cosine_topk, lsh_topk
from maston_spark.llm.text import fingerprint, lang_id, text_stats

CORPUS = [
    Row(doc_id=0, text="the quick brown fox jumps over the lazy dog near the river bank"),
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 0
    Row(doc_id=2, text="completely different content about spark query engines and shuffles"),
    Row(doc_id=3, text="the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
]


def test_minhash_lsh_finds_near_and_exact_dups(spark):
    df = spark.createDataFrame(CORPUS)
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(df, text_col="text", id_col="doc_id").collect()
    }
    assert (0, 3) in pairs          # exact dup always collides
    assert (0, 1) in pairs or (1, 3) in pairs  # near-dup shares bands
    assert all(a < b for a, b in pairs)  # canonical pair order
    # the unrelated doc never pairs with anything
    assert not any(2 in p for p in pairs)


def test_jaccard_verify_scores(spark):
    df = spark.createDataFrame(CORPUS)
    cands = minhash_lsh_candidates(df, text_col="text", id_col="doc_id")
    scored = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_verify(df, cands, text_col="text", id_col="doc_id").collect()
    }
    assert scored[(0, 3)] == 1.0
    if (0, 1) in scored:
        assert 0.5 < scored[(0, 1)] < 1.0


def test_shingles_are_word_ngrams(spark):
    df = spark.createDataFrame([Row(text="a b c d")])
    out = df.select(shingles(F.col("text"), 3).alias("sh")).collect()[0].sh
    assert sorted(out) == ["a b c", "b c d"]


def test_cosine_topk_axis_vectors(spark):
    emb = spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[float(x) for x in np.eye(4)[i % 4]])
            for i in range(8)
        ]
    )
    out = cosine_topk(emb, query_ids=[0], k=1).collect()
    assert len(out) == 1
    # only the other axis-0 vector (vec_id=4) has cosine 1 with query 0
    assert out[0].neighbor_id == 4
    assert abs(out[0].sim - 1.0) < 1e-6


def test_lsh_topk_subset_of_exact(spark, sf_dir):
    from maston_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk(emb, query_ids=[1, 2], k=5)
    approx = lsh_topk(emb, query_ids=[1, 2], k=5)
    # approximate neighbors must be drawn from the corpus and carry
    # valid cosine values; recall vs exact is corpus-dependent but
    # the top-1 exact neighbor usually shares the bucket
    a = approx.collect()
    assert all(-1.0 - 1e-9 <= r.sim <= 1.0 + 1e-9 for r in a)
    assert all(r.query_id in (1, 2) for r in a)
    assert exact.count() == 10


def test_cosine_formula(spark):
    df = spark.createDataFrame([Row(a=[1.0, 2.0, 3.0], b=[4.0, 5.0, 6.0])])
    got = df.select(cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    exp = np.dot([1, 2, 3], [4, 5, 6]) / (
        np.linalg.norm([1, 2, 3]) * np.linalg.norm([4, 5, 6])
    )
    assert math.isclose(got, exp, rel_tol=1e-9)


def test_text_stats_fields(spark):
    df = spark.createDataFrame([Row(doc_id=0, text="Hello world this is a test")])
    row = text_stats(df, "text").collect()[0]
    assert row.n_tokens == 6
    assert row.n_distinct_tokens == 6
    assert row.n_chars_computed == 26
    assert 0.0 <= row.stopword_ratio <= 1.0
    assert row.n_bpe_tokens == 6


def test_lang_id_und_and_en(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="the cat and the dog of a house"),
            Row(doc_id=1, text="zzz qqq xxx"),
        ]
    )
    got = {r.doc_id: r.lang_pred for r in lang_id(df).collect()}
    assert got[0] == "en"
    assert got[1] == "und"


def test_fingerprint_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [Row(doc_id=0, text="Hello   World"), Row(doc_id=1, text="hello world")]
    )
    fps = [r.fingerprint for r in fingerprint(df).collect()]
    assert fps[0] == fps[1]


def test_connected_components_known_graph(spark):
    from maston_spark.llm.dedup import connected_components

    verts = spark.createDataFrame([Row(id=i) for i in range(7)])
    # components: {0,1,2,3} (chain), {4,5}, {6} singleton
    edges = spark.createDataFrame(
        [Row(id_a=0, id_b=1), Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),
         Row(id_a=4, id_b=5)]
    )
    expected = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6}
    # default: small-graph union-find fast path
    got = {r.id: r.cluster for r in connected_components(verts, edges).collect()}
    assert got == expected
    # distributed min-label propagation must agree exactly
    got_dist = {
        r.id: r.cluster
        for r in connected_components(
            verts, edges, small_graph_max_edges=0
        ).collect()
    }
    assert got_dist == expected


def test_connected_components_self_loop_only_vertex(spark):
    """A vertex whose ONLY edge is a self-loop carries no
    connectivity: it must come back as its own singleton cluster on
    BOTH paths (the fast path's a<b filter used to drop it from the
    output entirely — it sat in endpoints but never entered seen)."""
    from maston_spark.llm.dedup import connected_components

    verts = spark.createDataFrame([Row(id=i) for i in range(4)])
    edges = spark.createDataFrame(
        [Row(id_a=0, id_b=1), Row(id_a=2, id_b=2)]  # 2 is self-loop-only
    )
    expected = {0: 0, 1: 0, 2: 2, 3: 3}
    got_fast = {r.id: r.cluster for r in connected_components(verts, edges).collect()}
    assert got_fast == expected
    got_dist = {
        r.id: r.cluster
        for r in connected_components(verts, edges, small_graph_max_edges=0).collect()
    }
    assert got_dist == expected


def test_connected_components_batched_probe(spark, monkeypatch):
    """The convergence probe must fire every probe_every rounds, not
    every round — driver count() barriers are the scale cost of deep
    clusters. A diameter-6 chain needs several propagation rounds;
    with probe_every=3 the probe count must be at most ceil(rounds/3)
    while the labels stay exact."""
    from maston_spark.llm import dedup as DD

    n = 7  # chain 0-1-2-...-6, diameter 6
    verts = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(n - 1)])

    probes = []
    cls = type(verts)  # concrete DataFrame class (classic/connect)
    real_count = cls.count
    monkeypatch.setattr(cls, "count", lambda self: probes.append(1) or real_count(self))

    got = {r.id: r.cluster
           for r in DD.connected_components(
               verts, edges, probe_every=3, small_graph_max_edges=0
           ).collect()}
    assert got == {i: 0 for i in range(n)}
    # labels move 1 hop/round: converged after 6 rounds, detected at
    # the round-9 probe -> probes at rounds 3, 6, 9 (vs 7+ unbatched)
    assert 1 <= len(probes) <= 3

    with pytest.raises(ValueError):
        DD.connected_components(verts, edges, probe_every=0, small_graph_max_edges=0)


def test_ivf_topk_probes_and_ranks(spark, sf_dir):
    from maston_spark.llm.similarity import ivf_topk
    from maston_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = ivf_topk(emb, query_ids=[1, 2], k=3, n_centroids=8, nprobe=2).collect()
    assert all(r.query_id in (1, 2) for r in got)
    assert all(0 <= r.cell < 8 for r in got)
    # a query probes nprobe cells, so its neighbors span at most 2 cells
    for qid in (1, 2):
        cells = {r.cell for r in got if r.query_id == qid}
        assert 1 <= len(cells) <= 2
    # per query: rn dense from 1, sims non-increasing in rn order
    for qid in (1, 2):
        rows = sorted((r for r in got if r.query_id == qid), key=lambda r: r.rn)
        assert [r.rn for r in rows] == list(range(1, len(rows) + 1))
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)


def test_hash_split_deterministic_and_proportional(spark):
    from maston_spark.llm.sampling import sample_fraction, split_assign

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s1 = split_assign(df).groupBy("split").count().collect()
    s2 = split_assign(df).groupBy("split").count().collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # pure function
    counts = {r["split"]: r["count"] for r in s1}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / 2000 - 0.8) < 0.05
    # fractional sample: deterministic subset of the right size
    kept = sample_fraction(df, 0.1, id_col="doc_id")
    n = kept.count()
    assert abs(n / 2000 - 0.1) < 0.03
    assert kept.intersect(sample_fraction(df, 0.1, id_col="doc_id")).count() == n


def test_mix_sources_rates(spark):
    from pyspark.sql import functions as F

    from maston_spark.llm.sampling import mix_sources

    df = (
        spark.range(0, 3000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 3 == 0, "a")
            .when(F.col("doc_id") % 3 == 1, "b")
            .otherwise("c"),
        )
    )
    kept = mix_sources(df, rates={"a": 1.0, "b": 0.5}, default_rate=0.0)
    counts = {r["source"]: r["count"] for r in kept.groupBy("source").count().collect()}
    assert counts["a"] == 1000            # rate 1.0 keeps everything
    assert abs(counts["b"] - 500) < 80    # ~50%
    assert "c" not in counts              # rate 0.0 drops all


def test_embedding_neardup_splits_hot_bucket(spark):
    """A cluster engineered to overflow one 6-plane bucket must
    re-hash to deeper levels: every final (fast-path) bucket obeys
    the cap, and the pair set still contains the true near-dups that
    share the refined bucket."""
    from maston_spark.llm.similarity import embedding_neardup, hyperplane_matrix

    rng = np.random.RandomState(7)
    base = rng.randn(64)
    # 40 small perturbations of one vector -> they concentrate in a
    # couple of hot 6-plane buckets (signs dominated by the base
    # vector) but stay mutually near-duplicate (cosine ≥ 0.99)
    vecs = [base + 0.05 * rng.randn(64) for _ in range(40)]
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)]
    )
    # confirm the premise: every occupied 6-plane bucket overflows
    # the cap (the cluster is tight, so rows concentrate in 1-2
    # buckets of ~9+ members each)
    H6 = hyperplane_matrix(6, 64)
    M = np.array(vecs)
    b6 = ((M @ H6.T) > 0).astype(np.int64) @ (2 ** np.arange(6))
    _, counts = np.unique(b6, return_counts=True)
    assert counts.min() > 8

    out = embedding_neardup(
        df, threshold=0.99, n_planes=6, dims=64, max_bucket_size=8
    ).collect()
    # refinement engaged: nothing was paired at level 0
    assert all(r.lvl > 0 for r in out)
    # fast-path guarantee: any NON-deepest-level bucket respects the
    # cap (pairs <= cap*(cap-1)/2 per bucket); deepest-level buckets
    # may stay oversized and are handled by the spill-safe join path
    from collections import Counter

    per_bucket = Counter((r.lvl, r.bucket) for r in out)
    cap_pairs = 8 * 7 // 2
    assert all(
        n <= cap_pairs for (lvl, _), n in per_bucket.items() if lvl < 2
    )
    # and pairs that survive are genuinely near-duplicates
    assert all(r.cosine >= 0.99 for r in out)
    assert len(out) > 0


def test_embedding_neardup_degenerate_identical_vectors(spark):
    """Identical vectors can never be split by more hyperplanes; the
    deepest-level oversize fallback must emit ALL pairs via the
    spill-safe join path instead of one unbounded matmul task."""
    from maston_spark.llm.similarity import embedding_neardup

    v = [float(x) for x in np.arange(64) / 64.0 + 0.1]
    df = spark.createDataFrame([Row(vec_id=i, embedding=v) for i in range(12)])
    out = embedding_neardup(
        df, threshold=0.9, n_planes=6, dims=64, max_bucket_size=4, max_levels=2
    ).collect()
    # all 12 identical vectors pair with each other: C(12,2) = 66
    assert len(out) == 66
    assert all(abs(r.cosine - 1.0) < 1e-9 for r in out)


def test_repetition_stats_known_doc(spark):
    from maston_spark.llm.text import repetition_stats

    df = spark.createDataFrame(
        [
            # bigrams: "a b","b a","a b","b a","a b" → 5 total,
            # top "a b"=3, all 5 occurrences are of duplicated bigrams
            Row(doc_id=1, text="a b a b a b"),
            # 3 distinct bigrams, no repeats
            Row(doc_id=2, text="w x y z"),
            # single token → no bigrams → dropped
            Row(doc_id=3, text="solo"),
        ]
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert set(rows) == {1, 2}
    assert rows[1].n_bigrams == 5
    assert rows[1].top_bigram_count == 3
    assert rows[1].top_bigram_frac == 0.6
    assert rows[1].dup_bigram_frac == 1.0
    assert rows[2].n_bigrams == 3
    assert rows[2].top_bigram_count == 1
    assert rows[2].dup_bigram_frac == 0.0


def test_pii_scrub_counts_and_redacts(spark):
    from maston_spark.llm.text import pii_scrub

    df = spark.createDataFrame(
        [
            Row(
                doc_id=1,
                text="mail a.b+c@x-mail.org or b@c.io, ip 10.0.0.7, tel +33612345678",
            ),
            Row(doc_id=2, text="clean text with digits 1234 and a dot. end"),
        ]
    )
    rows = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (2, 1, 1)
    assert (
        rows[1].text_scrubbed
        == "mail <EMAIL> or <EMAIL>, ip <IPV4>, tel <PHONE>"
    )
    assert (rows[2].n_email, rows[2].n_ipv4, rows[2].n_phone) == (0, 0, 0)
    assert rows[2].text_scrubbed == rows[2].text


def test_domain_cap_exact_and_deterministic(spark):
    """Per-domain quota: exactly min(cap, |domain|) rows survive,
    ranked by score desc with id tie-break; ranks are dense from 1."""
    from maston_spark.llm.sampling import domain_cap

    rows = [
        Row(doc_id=i, source=f"d{i % 3}", quality_score=float((i * 7) % 10))
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    got = domain_cap(df, cap=5).collect()
    by_dom: dict = {}
    for r in got:
        by_dom.setdefault(r.source, []).append(r)
    assert set(by_dom) == {"d0", "d1", "d2"}
    for dom, rs in by_dom.items():
        assert len(rs) == 5
        assert sorted(r.domain_rank for r in rs) == [1, 2, 3, 4, 5]
        # rank order == (score desc, doc_id asc)
        ordered = sorted(rs, key=lambda r: (-r.quality_score, r.doc_id))
        assert [r.domain_rank for r in ordered] == [1, 2, 3, 4, 5]
    # determinism across reruns
    again = domain_cap(df, cap=5).collect()
    assert sorted((r.doc_id, r.domain_rank) for r in got) == sorted(
        (r.doc_id, r.domain_rank) for r in again
    )


def test_winnowing_guarantee_shared_fingerprint(spark):
    """Winnowing's core property (Schleimer et al.): two documents
    sharing a substring of length >= window + k - 1 share at least
    one fingerprint; unrelated docs (different alphabets) share
    none."""
    from maston_spark.llm.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        Row(doc_id=0, text=f"PREFIX A {shared} SUFFIX ONE"),
        Row(doc_id=1, text=f"other lead-in {shared} different tail"),
        Row(doc_id=2, text="zzz qqq www eee rrr ttt yyy uuu iii ooo ppp"),
    ]
    df = spark.createDataFrame(rows)
    fps: dict[int, set] = {0: set(), 1: set(), 2: set()}
    for r in winnow_fingerprints(df, k=8, window=4).collect():
        fps[r.doc_id].add(r.fingerprint)
    assert fps[0] & fps[1], "docs sharing a long substring must share a print"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_semantic_dedup_evicts_twin_keeps_original(spark):
    """SemDeDup rule: a near-identical pair in the same cell keeps
    the smaller id; vectors with no close neighbor survive."""
    import numpy as np

    from maston_spark.llm.similarity import semantic_dedup

    rng = np.random.default_rng(3)
    rows = []
    for i in range(120):
        v = rng.normal(size=8)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    twin_src = rows[5].embedding
    rows.append(Row(vec_id=500, embedding=[x * 1.0001 for x in twin_src]))
    df = spark.createDataFrame(rows)
    got = {r.vec_id: r for r in semantic_dedup(
        df, threshold=0.99, n_centroids=8
    ).collect()}
    assert len(got) == 121
    assert got[5].kept is True
    assert got[500].kept is False and got[500].evicted_by == 5
    # same cell by construction (identical direction)
    assert got[500].cell == got[5].cell
    assert sum(1 for r in got.values() if not r.kept) >= 1


def test_semantic_dedup_blockwise_matches_naive_on_oversized_cell(spark):
    """Per-task memory bound: a cell much larger than block_size must
    stream through row-block × prefix-block tiles, never a cell²
    matrix — and produce EXACTLY the keep-one result of the naive
    all-pairs rule (any smaller-id neighbor ≥ threshold evicts;
    evicted_by = the smallest such id)."""
    import numpy as np

    from maston_spark.llm.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    d, n = 8, 150
    # base directions reused with tiny perturbations -> plenty of
    # near-dup pairs at various id distances (within- and cross-block)
    base = rng.normal(size=(12, d))
    rows = []
    vecs = {}
    for i in range(n):
        v = base[i % 12] + rng.normal(size=d) * (0.0005 if i % 3 else 1.0)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
        vecs[i] = v
    df = spark.createDataFrame(rows)

    def run(bs):
        return {
            r.vec_id: (r.kept, r.evicted_by, r.cell)
            for r in semantic_dedup(
                df, threshold=0.995, n_centroids=8, block_size=bs,
            ).collect()
        }

    tiny = run(7)       # forces many blocks + cross-batch prefix reuse
    assert run(10_000) == tiny  # single-block path agrees exactly

    # naive reference: per cell, all-pairs keep-one
    cells = {}
    for i, (kept, ev, cell) in tiny.items():
        cells.setdefault(cell, []).append(i)
    Mn = {i: vecs[i] / np.linalg.norm(vecs[i]) for i in vecs}
    for cell, ids in cells.items():
        for i in sorted(ids):
            smaller = [j for j in ids if j < i and float(Mn[j] @ Mn[i]) >= 0.995]
            if smaller:
                assert tiny[i] == (False, min(smaller), cell), i
            else:
                assert tiny[i] == (True, None, cell), i


def test_semantic_dedup_corpus_scaled_k_bounds_prefix(spark):
    """Default wiring trains K = ceil(n / target_cell_rows) Lloyd
    centroids, so a corpus that a fixed-K seed quantizer would cram
    into ONE oversized cell (one prefix = whole corpus resident in a
    single task) is split into ~n/target cells — per-task prefix
    bytes stay bounded by ~target_cell_rows x d x 8."""
    import numpy as np

    from maston_spark.llm.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    d, n, target = 8, 400, 100
    # 4 well-separated directions, ids interleaved so the first-K
    # Lloyd seeds land one per direction
    dirs = np.eye(d)[:4] * 10.0
    rows = [
        Row(
            vec_id=i,
            embedding=[
                float(x) for x in dirs[i % 4] + rng.normal(size=d) * 0.05
            ],
        )
        for i in range(n)
    ]
    df = spark.createDataFrame(rows)
    out = semantic_dedup(df, threshold=0.999, target_cell_rows=target).collect()
    assert len(out) == n
    sizes: dict[int, int] = {}
    for r in out:
        sizes[r.cell] = sizes.get(r.cell, 0) + 1
    # K = ceil(400/100) = 4 trained cells, all materialized
    assert len(sizes) == 4, sizes
    # residency bound: max prefix is max cell size x d x 8 bytes —
    # within 1.5x of the target under the corpus-scaled default
    assert max(sizes.values()) <= 1.5 * target, sizes


def test_semantic_dedup_quantized_equals_float(spark):
    """The int8-screen + exact-confirm path must reproduce the
    all-float path exactly: the screen is a sound superset (every
    true eviction pair passes the Cauchy-Schwarz bound) and the
    confirm re-evaluates the exact rule — so kept/evicted_by match
    row for row, including planted twins and within-block pairs."""
    import numpy as np

    from maston_spark.llm.similarity import (
        semantic_dedup,
        semantic_dedup_quantized,
    )

    rng = np.random.default_rng(13)
    rows = []
    for i in range(300):
        v = rng.normal(size=16)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    # planted twins: near-dup (evicts), plus a just-below-threshold
    # perturbation (must NOT evict — exercises the epsilon shell)
    rows.append(Row(vec_id=900, embedding=[x * 1.0002 for x in rows[7].embedding]))
    rows.append(
        Row(
            vec_id=901,
            embedding=[
                float(x + rng.normal() * 0.6) for x in rows[9].embedding
            ],
        )
    )
    df = spark.createDataFrame(rows)
    kw = dict(threshold=0.95, target_cell_rows=64, block_size=32)
    flt = {r.vec_id: (r.kept, r.evicted_by, r.cell)
           for r in semantic_dedup(df, **kw).collect()}
    qnt = {r.vec_id: (r.kept, r.evicted_by, r.cell)
           for r in semantic_dedup_quantized(df, **kw).collect()}
    assert flt == qnt
    assert qnt[900] == (False, 7, qnt[7][2])  # twin evicted by source


def test_winnowing_sharded_equals_unsharded(spark):
    """Position-block sharding is a pure parallelism change: with the
    window+k-2 overlap, every shard computes the same window-mins the
    unsharded scheme would, so fingerprint sets are IDENTICAL even
    when one document is 10x the median and spans many shards."""
    import random

    from maston_spark.llm.text import winnow_fingerprints

    rng = random.Random(42)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    docs = [
        Row(doc_id=i, text=" ".join(rng.choice(words) for _ in range(40)))
        for i in range(6)
    ]
    # the straggler: 10x median, crosses MANY shard boundaries at B=17
    docs.append(
        Row(doc_id=99, text=" ".join(rng.choice(words) for _ in range(400)))
    )
    df = spark.createDataFrame(docs)

    def run(b):
        out = {}
        for r in winnow_fingerprints(
            df, k=8, window=4, positions_per_shard=b
        ).collect():
            out.setdefault(r.doc_id, set()).add(r.fingerprint)
        return out

    big = run(1_000_000)          # effectively unsharded
    assert run(17) == big         # shard boundaries everywhere
    assert run(1) == big          # degenerate one-start-per-shard
    assert len(big[99]) > 50      # the big doc actually exercised it


# ---- exact-substring span dedup (Lee et al. 2021 shape) ----


def test_exact_substring_spans_golden(spark):
    from maston_spark.llm.text import exact_substring_spans

    # doc 0 and 1 share the 6-token prefix "a b c d e f" -> with k=3,
    # duplicated 3-gram starts 0..3 cover tokens 0..5 of each.
    rows = [
        Row(doc_id=0, text="a b c d e f x1 y1 z1"),
        Row(doc_id=1, text="a b c d e f x2 y2 z2"),
        Row(doc_id=2, text="u v w q r s t"),       # unique: zero dup
        Row(doc_id=3, text="m n"),                  # shorter than k
    ]
    out = {
        r.doc_id: r
        for r in exact_substring_spans(
            spark.createDataFrame(rows), k=3
        ).collect()
    }
    assert out[0].n_tokens == 9 and out[0].n_dup_grams == 4
    assert out[0].n_dup_tokens == 6  # interval UNION, not 4*3=12
    assert out[0].dup_token_fraction == round(6 / 9, 6)
    assert out[1].n_dup_tokens == 6
    assert out[2].n_dup_grams == 0 and out[2].dup_token_fraction == 0.0
    # short doc still reported, with zero grams
    assert out[3].n_tokens == 2 and out[3].n_dup_tokens == 0


def test_exact_substring_counts_within_doc_repeats(spark):
    from maston_spark.llm.text import exact_substring_spans

    # the 3-gram "p q r" occurs twice WITHIN one doc -> duplicated
    # even though no other doc shares it (Lee et al. count total
    # corpus occurrences, not distinct docs)
    rows = [Row(doc_id=0, text="p q r z z p q r"), Row(doc_id=1, text="k l m n o")]
    out = {
        r.doc_id: r
        for r in exact_substring_spans(spark.createDataFrame(rows), k=3).collect()
    }
    assert out[0].n_dup_grams == 2
    # spans [0,2] and [5,7] -> union of 6 tokens
    assert out[0].n_dup_tokens == 6
    assert out[1].n_dup_grams == 0


# ---- bigram LM perplexity (CCNet/KenLM shape) ----


def test_bigram_lm_score_matches_hand_computation(spark):
    from maston_spark.llm.text import bigram_lm_score

    # corpus: two docs. vocab = {a, b, c} (V=3)
    # bigrams: doc0 = [a b, b a, a b], doc1 = [a c]
    # counts: c(a b)=2, c(b a)=1, c(a c)=1; prefix c(a.)=3, c(b.)=1
    rows = [Row(doc_id=0, text="a b a b"), Row(doc_id=1, text="a c")]
    out = {r.doc_id: r for r in bigram_lm_score(spark.createDataFrame(rows)).collect()}
    V = 3
    lp_ab = math.log2((2 + 1) / (3 + V))
    lp_ba = math.log2((1 + 1) / (1 + V))
    lp_ac = math.log2((1 + 1) / (3 + V))
    h0 = -(2 * lp_ab + 1 * lp_ba) / 3
    h1 = -lp_ac
    assert out[0].n_bigrams == 3
    assert out[0].bits_per_bigram == pytest.approx(round(h0, 6), abs=1e-6)
    assert out[0].ppl == pytest.approx(round(2 ** h0, 3), abs=1e-3)
    assert out[1].n_bigrams == 1
    assert out[1].bits_per_bigram == pytest.approx(round(h1, 6), abs=1e-6)


def test_bigram_lm_score_flags_gibberish(spark):
    from maston_spark.llm.text import bigram_lm_score

    # repeated fluent text scores lower than a one-off shuffle
    fluent = "the cat sat on the mat"
    rows = [Row(doc_id=i, text=fluent) for i in range(5)] + [
        Row(doc_id=99, text="mat the on sat cat the")
    ]
    out = {r.doc_id: r for r in bigram_lm_score(spark.createDataFrame(rows)).collect()}
    assert out[0].bits_per_bigram < out[99].bits_per_bigram


# ---- tf-idf top terms ----


def test_tfidf_top_terms_golden(spark):
    from maston_spark.llm.text import tfidf_top_terms

    rows = [
        Row(doc_id=0, text="spark spark shuffle common common"),
        Row(doc_id=1, text="duck oracle common common common"),
        Row(doc_id=2, text="common words only common words"),
    ]
    out = tfidf_top_terms(spark.createDataFrame(rows), top_k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # per-doc ranks are 1..2 and ordered by tfidf desc then term asc
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == [1, 2]
        assert rs[0].tfidf >= rs[1].tfidf
    # 'common' appears in every doc -> idf = ln(1) = 0 -> never a top term
    # for docs that have any distinctive term
    assert by_doc[0][0].term == "spark"  # tf 2/5 * ln(3) beats shuffle 1/5*ln(3)
    assert by_doc[0][1].term == "shuffle"
    assert by_doc[1][0].term == "duck"   # tie with 'oracle' on value -> term asc
    assert by_doc[1][1].term == "oracle"


# ---- bloom incremental dedup ----


def test_bloom_incremental_dedup_no_false_negatives(spark):
    from maston_spark.llm.dedup import bloom_incremental_dedup

    schema = "doc_id long, text string"
    # a NULL reference text is skipped by the build
    ref = spark.createDataFrame(CORPUS + [Row(doc_id=4, text=None)], schema)
    new = spark.createDataFrame(
        [
            Row(doc_id=100, text=CORPUS[0].text),            # exact dup
            Row(doc_id=101, text="  THE quick   brown fox jumps over the lazy dog near the river bank "),  # dup after normalization
            Row(doc_id=102, text="entirely novel document text here"),
            Row(doc_id=103, text=None),
        ],
        schema,
    )
    out = {r.doc_id: r for r in bloom_incremental_dedup(new, ref, m=1 << 20).collect()}
    # zero false negatives: every exact dup is flagged by BOTH signals
    assert out[100].maybe_dup and out[100].is_dup and not out[100].false_positive
    assert out[101].maybe_dup and out[101].is_dup  # normalization applied
    # big m -> no false positives at this scale
    assert not out[102].maybe_dup and not out[102].is_dup
    # a NULL new text is no duplicate of anything, the NULL reference
    # text included
    assert (out[103].maybe_dup, out[103].is_dup, out[103].false_positive) == (
        False, False, False,
    )


def test_bloom_bitmap_matches_position_set_semantics(spark):
    """The bitmap probe must agree exactly with the declarative
    'all k positions in the reference position set' semantics the
    oracle computes — including at tiny m where collisions abound."""
    from pyspark.sql import functions as F

    from maston_spark.llm.dedup import _bloom_position, bloom_incremental_dedup

    m, k = 16, 2  # tiny: plenty of FPs by construction
    ref = spark.createDataFrame(CORPUS)
    new = spark.createDataFrame(
        [Row(doc_id=i, text=f"synthetic doc number {i} with words") for i in range(40)]
    )
    got = {r.doc_id: r.maybe_dup for r in bloom_incremental_dedup(
        new, ref, m=m, n_hashes=k).collect()}

    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    refpos = {
        r.pos
        for r in ref.select(
            F.explode(F.array(*[_bloom_position(norm, i, m) for i in range(k)])).alias("pos")
        ).collect()
    }
    expected = {
        r.doc_id: all(r[f"p{i}"] in refpos for i in range(k))
        for r in new.select(
            "doc_id", *[_bloom_position(norm, i, m).alias(f"p{i}") for i in range(k)]
        ).collect()
    }
    assert got == expected
    assert any(expected.values())  # tiny m actually produced bloom hits


def test_exact_substring_spans_matches_bruteforce_on_random_corpus(spark):
    """Seeded randomized equivalence vs a direct transcription of the
    Lee-et-al. semantics: duplicated k-gram = k-token window occurring
    >= 2 times corpus-wide; coverage = |union of duplicated windows|.
    Random small-vocab docs make collisions/overlaps/within-doc
    repeats all common."""
    import random

    from maston_spark.llm.text import exact_substring_spans

    rng = random.Random(8451)
    k = 4
    docs = {
        i: [rng.choice("abcdefg") for _ in range(rng.randint(1, 30))]
        for i in range(30)
    }
    # brute force
    from collections import Counter

    counts = Counter()
    for toks in docs.values():
        for s in range(len(toks) - k + 1):
            counts[tuple(toks[s : s + k])] += 1
    expected = {}
    for i, toks in docs.items():
        starts = [
            s
            for s in range(len(toks) - k + 1)
            if counts[tuple(toks[s : s + k])] >= 2
        ]
        covered = set()
        for s in starts:
            covered.update(range(s, s + k))
        expected[i] = (len(toks), len(starts), len(covered))

    df = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(t)) for i, t in docs.items()]
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_grams, r.n_dup_tokens)
        for r in exact_substring_spans(df, k=k).collect()
    }
    assert got == expected
    # the random corpus actually exercised duplication
    assert any(v[1] > 0 for v in expected.values())


def test_chunk_tokens_boundaries_and_overlap(spark):
    from maston_spark.llm.sampling import chunk_tokens

    # 10 tokens, chunk_size=4, overlap=2 -> stride 2, starts 0,2,4,6,8
    doc = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, doc), (2, "solo")], "doc_id long, text string")
    out = chunk_tokens(df, chunk_size=4, overlap=2)
    rows = {(r.doc_id, r.chunk_id): r for r in out.collect()}
    assert [k for k in rows if k[0] == 1] == [(1, i) for i in range(5)]
    assert rows[(1, 0)].chunk_text == "t0 t1 t2 t3"
    assert rows[(1, 1)].chunk_text == "t2 t3 t4 t5"  # 2-token overlap
    assert rows[(1, 4)].chunk_text == "t8 t9"  # short tail chunk
    assert rows[(1, 4)].chunk_len == 2
    # consecutive chunks share exactly `overlap` tokens
    a, b = rows[(1, 0)].chunk_text.split(), rows[(1, 1)].chunk_text.split()
    assert a[-2:] == b[:2]
    # a document shorter than one chunk yields exactly one chunk
    assert rows[(2, 0)].chunk_text == "solo" and rows[(2, 0)].chunk_len == 1
    # exact-multiple length: last start covers new tokens only
    df3 = spark.createDataFrame([(3, "a b c d")], "doc_id long, text string")
    out3 = chunk_tokens(df3, chunk_size=2, overlap=0).collect()
    assert sorted(r.chunk_text for r in out3) == ["a b", "c d"]


def test_chunk_tokens_rejects_bad_overlap(spark):
    import pytest as _pytest

    from maston_spark.llm.sampling import chunk_tokens

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_tokens(df, chunk_size=4, overlap=4)


def test_dsir_weights_prefer_target_like_docs(spark):
    from pyspark.sql import functions as F

    from maston_spark.llm.sampling import dsir_log_weights

    # target docs speak "alpha beta", raw background speaks "zig zag";
    # a fresh doc written in target language must outscore one written
    # in background language.
    rows = (
        [(i, "alpha beta alpha beta", "tgt") for i in range(10)]
        + [(100 + i, "zig zag zig zag", "bg") for i in range(10)]
        + [(900, "alpha beta alpha beta", "probe_t"), (901, "zig zag zig zag", "probe_b")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = dsir_log_weights(
        df, target_filter=F.col("source") == "tgt", n_buckets=64
    )
    w = {r.doc_id: r.log_weight for r in out.collect()}
    assert w[900] > w[901]
    assert w[900] > 0 > w[901]
    # token counts survive the agg
    n = {r.doc_id: r.n_tokens for r in out.collect()}
    assert n[900] == 4


def test_lexical_diversity_entropy_golden(spark):
    import math

    from maston_spark.llm.text import lexical_diversity

    df = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "a a b b")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in lexical_diversity(df).collect()}
    assert out[1].distinct_tokens == 1 and out[1].entropy == 0.0
    assert out[2].type_token_ratio == 1.0
    assert abs(out[2].entropy - round(math.log(4), 6)) < 1e-9
    # two tokens at p=.5 each: entropy = ln 2
    assert abs(out[3].entropy - round(math.log(2), 6)) < 1e-9
    assert out[3].distinct_tokens == 2 and out[3].type_token_ratio == 0.5


def test_chunk_tokens_coverage_property(spark):
    """Property over random (n_tokens, chunk_size, overlap): chunk
    starts tile [0, n) with the declared stride, every token appears
    in at least one chunk, and consecutive chunks share exactly
    `overlap` tokens (except a shorter tail)."""
    import random

    rng = random.Random(8)
    cases = [
        (rng.randint(1, 40), rng.randint(2, 12)) for _ in range(12)
    ]
    from maston_spark.llm.sampling import chunk_tokens

    for n, size in cases:
        overlap = rng.randint(0, size - 1)
        stride = size - overlap
        doc = " ".join(f"w{i}" for i in range(n))
        df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
        rows = sorted(
            chunk_tokens(df, chunk_size=size, overlap=overlap).collect(),
            key=lambda r: r.chunk_id,
        )
        starts = [r.chunk_start for r in rows]
        assert starts == list(range(0, n, stride)), (n, size, overlap)
        covered = set()
        for r in rows:
            toks = r.chunk_text.split()
            assert len(toks) == r.chunk_len <= size
            assert toks == [f"w{i}" for i in range(r.chunk_start, r.chunk_start + r.chunk_len)]
            covered.update(range(r.chunk_start, r.chunk_start + r.chunk_len))
        assert covered == set(range(n)), (n, size, overlap)


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from maston_spark.llm.similarity import embedding_covariance

    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 5)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    got = {(r.i, r.j): r.cov for r in embedding_covariance(df).collect()}
    C = np.cov(X.astype(np.float64), rowvar=False, ddof=1)
    assert len(got) == 5 * 6 // 2  # upper triangle only
    for (i, j), v in got.items():
        assert i <= j
        assert abs(v - C[i, j]) < 1e-5, (i, j, v, C[i, j])


def test_profile_numeric_golden(spark):
    from maston_spark.profiling import profile_numeric

    df = spark.createDataFrame(
        [(1.0, None), (2.0, 5.5), (2.0, None), (3.0, -1.0)],
        "a double, b double",
    )
    prof = {r.column: r for r in profile_numeric(df, ["a", "b"]).collect()}
    assert prof["a"].n_rows == 4 and prof["a"].n_nulls == 0
    assert prof["a"].n_distinct == 3
    assert prof["a"].min_val == 1.0 and prof["a"].max_val == 3.0
    assert prof["b"].n_nulls == 2 and prof["b"].n_distinct == 2
    assert prof["b"].min_val == -1.0 and prof["b"].max_val == 5.5


def test_dsir_weights_match_numpy_reference(spark):
    """DSIR log-weights against a direct numpy re-implementation of
    the same hashed bag-of-words likelihood ratio (add-one smoothed,
    9-dp-rounded log-ratios)."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from maston_spark.llm.sampling import dsir_log_weights

    m = 16
    docs = {
        1: ("alpha beta gamma", True),
        2: ("beta beta delta", True),
        3: ("zig zag zig", False),
        4: ("alpha zag beta zig", False),
    }

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % m

    p_cnt = [0] * m
    q_cnt = [0] * m
    per_doc = {}
    for did, (text, tgt) in docs.items():
        counts = {}
        for t in text.split():
            b = bucket(t)
            counts[b] = counts.get(b, 0) + 1
            q_cnt[b] += 1
            if tgt:
                p_cnt[b] += 1
        per_doc[did] = counts
    p_tot, q_tot = sum(p_cnt), sum(q_cnt)
    lr = [
        round(
            math.log((p_cnt[b] + 1) / (p_tot + m))
            - math.log((q_cnt[b] + 1) / (q_tot + m)),
            9,
        )
        for b in range(m)
    ]
    expected = {
        did: round(sum(c * lr[b] for b, c in counts.items()), 6)
        for did, counts in per_doc.items()
    }

    df = spark.createDataFrame(
        [(did, text, tgt) for did, (text, tgt) in docs.items()],
        "doc_id long, text string, is_tgt boolean",
    )
    got = {
        r.doc_id: r.log_weight
        for r in dsir_log_weights(
            df, target_filter=F.col("is_tgt"), n_buckets=m
        ).collect()
    }
    for did, w in expected.items():
        assert abs(got[did] - w) < 1e-9, (did, got[did], w)


def test_exact_substring_dedup_consistent_with_spans(spark):
    """The removal transform must drop EXACTLY the tokens the spans
    operator reports as covered, and surviving tokens keep their
    original order."""
    from maston_spark.llm.text import exact_substring_dedup, exact_substring_spans

    rows = [
        (1, "a b c d e x y z"),       # shares 'a b c d e' with doc 2
        (2, "q r a b c d e s t"),
        (3, "u v w p n m o j k l"),   # unique — untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {r.doc_id: r for r in exact_substring_spans(df, k=5).collect()}
    dedup = {r.doc_id: r for r in exact_substring_dedup(df, k=5).collect()}
    for did in (1, 2, 3):
        assert dedup[did].n_tokens == spans[did].n_tokens
        assert (
            dedup[did].n_tokens - dedup[did].n_kept_tokens
            == spans[did].n_dup_tokens
        ), did
    assert dedup[1].text_dedup == "x y z"
    assert dedup[2].text_dedup == "q r s t"
    assert dedup[3].text_dedup == rows[2][1]
    # order preserved: surviving tokens appear as a subsequence
    for did, text in rows:
        kept = dedup[did].text_dedup.split() if dedup[did].text_dedup else []
        it = iter(text.split())
        assert all(t in it for t in kept), did


def test_exact_substring_dedup_keep_first_exempts_min_occurrence(spark):
    """keep_first=True is Lee et al.'s granularity: each duplicated
    gram's FIRST occurrence (min (doc_id, start)) survives; later
    occurrences are removed. The default removes all of them."""
    from maston_spark.llm.text import exact_substring_dedup

    rows = [
        (1, "a b c d e x y z"),       # first occurrence of 'a b c d e'
        (2, "q r a b c d e s t"),     # later occurrence — removed
        (3, "a b c d e"),             # later occurrence — fully removed
        (4, "u v w p n m o j k l"),   # unique — untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kf = {r.doc_id: r for r in
          exact_substring_dedup(df, k=5, keep_first=True).collect()}
    # doc 1 holds the min (doc_id, start) occurrence: kept intact
    assert kf[1].text_dedup == "a b c d e x y z"
    assert kf[1].n_kept_tokens == 8
    # docs 2 and 3 lose the span; surviving tokens keep order
    assert kf[2].text_dedup == "q r s t"
    assert kf[3].text_dedup == "" and kf[3].n_kept_tokens == 0
    assert kf[4].text_dedup == rows[3][1]
    # remove-all default: the span vanishes from doc 1 too
    ra = {r.doc_id: r for r in exact_substring_dedup(df, k=5).collect()}
    assert ra[1].text_dedup == "x y z"


def test_exact_substring_dedup_keep_first_within_doc_repeat(spark):
    """A gram duplicated WITHIN one document keeps only its earliest
    start under keep_first (ties on doc_id break on start)."""
    from maston_spark.llm.text import exact_substring_dedup

    # 'a b c' appears at starts 0 and 4 in the same doc
    df = spark.createDataFrame(
        [(7, "a b c z a b c")], "doc_id long, text string"
    )
    out = exact_substring_dedup(df, k=3, keep_first=True).collect()[0]
    assert out.text_dedup == "a b c z"
    assert out.n_kept_tokens == 4


def test_nb_classify_golden(spark):
    """Hand-checkable naive Bayes: 'ham' docs use fruit words, 'spam'
    docs use pitch words; a held-out doc of each kind classifies
    correctly, and a doc of only OOV tokens falls back to the prior
    argmax (min label on a prior tie)."""
    from maston_spark.llm.text import nb_classify

    train = spark.createDataFrame(
        [
            (1, "apple banana apple", "ham"),
            (2, "banana cherry apple", "ham"),
            (3, "buy now cheap", "spam"),
            (4, "cheap buy deal", "spam"),
        ],
        "doc_id long, text string, label string",
    )
    test = spark.createDataFrame(
        [
            (10, "apple banana"),
            (11, "buy cheap cheap"),
            (12, "zzz qqq"),  # all OOV -> dropped -> no score row
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in nb_classify(train, test).collect()}
    assert got[10].label_pred == "ham"
    assert got[11].label_pred == "spam"
    # all-OOV doc produces no hits, hence no prediction row (NB's
    # drop-OOV convention; documented)
    assert 12 not in got
    assert got[10].nb_score < 0  # log-domain


def test_cluster_safe_split_never_straddles_neardups(spark):
    """Every edge's endpoints land in the SAME split (the defining
    property), and singleton docs still get a split — unlike a
    doc-hash split, which provably straddles some planted pair."""
    from maston_spark.llm.sampling import cluster_safe_split

    verts = spark.createDataFrame(
        [(i,) for i in range(40)], "id long"
    )
    # chain 0-1-2 is one cluster; 10-11 another; rest singletons
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "id_a long, id_b long"
    )
    got = {r.id: r for r in cluster_safe_split(verts, edges).collect()}
    assert len(got) == 40
    assert got[0].split == got[1].split == got[2].split
    assert got[0].cluster == got[1].cluster == got[2].cluster == 0
    assert got[10].split == got[11].split
    assert got[10].cluster == got[11].cluster == 10
    # weights are respected over cluster labels: every split name the
    # expression can emit appears given enough singleton clusters
    assert {r.split for r in got.values()} <= {"train", "val", "test"}


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A 1/3-length excerpt has low Jaccard to its source (symmetric
    dedup misses it) but containment ~1.0 — the rare-shingle index
    must surface the pair and the directional score must flag it."""
    from maston_spark.llm.dedup import (
        containment_from_lanes,
        jaccard_from_lanes,
        minhash_frame,
        rare_shingle_candidates,
    )

    words = [f"w{i}" for i in range(60)]
    rows = [
        (1, " ".join(words)),            # source
        (2, " ".join(words[:20])),       # excerpt: fully contained
        (3, " ".join(f"z{i}" for i in range(40))),  # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mf = minhash_frame(df, shingle_n=3, num_hashes=16)
    cands = rare_shingle_candidates(mf, max_df=20)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    cont = {
        (r.id_a, r.id_b): r
        for r in containment_from_lanes(mf, cands, threshold=0.9).collect()
    }
    assert (1, 2) in cont
    assert cont[(1, 2)].containment_b == 1.0   # excerpt side
    assert cont[(1, 2)].containment_a < 0.5    # source side
    jac = jaccard_from_lanes(mf, cands).collect()
    j12 = [r.jaccard for r in jac if (r.id_a, r.id_b) == (1, 2)][0]
    assert j12 < 0.4  # the score symmetric dedup would have used


def test_rare_shingle_candidates_drop_boilerplate(spark):
    """A shingle present in MORE than max_df docs (boilerplate) must
    not generate pairs on its own — the df cap bounds fan-out."""
    from maston_spark.llm.dedup import minhash_frame, rare_shingle_candidates

    boiler = "all rights reserved worldwide"
    rows = [(i, f"doc{i} unique{i} tokens{i} " + boiler) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    mf = minhash_frame(df, shingle_n=3, num_hashes=16)
    # boilerplate shingles appear in all 10 docs > max_df=5 → no pairs
    assert rare_shingle_candidates(mf, max_df=5).count() == 0


def test_ivfpq_residual_finds_planted_twin(spark):
    """Residual encoding: vectors live in two far-apart clusters, so
    raw-vector PQ spends its codebook on the cluster offset while
    residual PQ spends it on within-cell structure. The planted twin
    (query + tiny delta) must rank #1 with a near-zero ADC distance."""
    import numpy as np

    from maston_spark.llm.similarity import ivf_pq_residual_topk

    rng = np.random.default_rng(11)
    d = 64
    rows = []
    for i in range(80):
        center = 50.0 if i % 2 == 0 else -50.0
        v = center + rng.normal(size=d)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    # twin of vector 4 (even → +50 cluster)
    twin = [x + 1e-4 for x in rows[4].embedding]
    rows.append(Row(vec_id=500, embedding=twin))
    df = spark.createDataFrame(rows)
    got = ivf_pq_residual_topk(
        df, query_ids=[4], k_neighbors=3, n_cells=2, nprobe=1,
        m=8, sub_dim=8, k=8,
    ).collect()
    assert [r.rn for r in got] == [1, 2, 3]
    assert got[0].neighbor_id == 500, got
    # residual ADC distance of a near-identical twin ~ quantization
    # noise only — far below the typical within-cluster distance (~2d)
    assert got[0].adc_dist < got[1].adc_dist
    # all candidates come from the query's own probed cell
    assert len({r.cell for r in got}) == 1


def test_query_likelihood_golden(spark):
    """Dirichlet-smoothed QL against a hand-computed corpus: matching
    docs score above non-matching; the no-hit doc still gets the
    analytic baseline (all-smoothing) score; OOV query terms drop."""
    import math

    from maston_spark.llm.text import query_likelihood_rank

    rows = [
        (1, "apple banana apple cherry"),   # tf(apple)=2
        (2, "banana cherry date elder"),    # tf(apple)=0
        (3, "apple fig grape honey"),       # tf(apple)=1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # query: one in-corpus term + one OOV term (must be dropped)
    got = {r.doc_id: r for r in
           query_likelihood_rank(df, ["apple", "zzz_oov"], mu=10.0).collect()}
    assert set(got) == {1, 2, 3}
    total = 12  # tokens
    p = 3 / 12  # cf(apple)=3
    mu = 10.0

    def expected(tf, dl):
        c0 = round(math.log(mu * p), 9)
        adj = round(math.log(tf + mu * p) - math.log(mu * p), 9) if tf else 0
        return round(c0 + adj - round(1 * math.log(dl + mu), 9), 9)

    assert abs(got[1].ql - expected(2, 4)) < 1e-9
    assert abs(got[2].ql - expected(0, 4)) < 1e-9
    assert abs(got[3].ql - expected(1, 4)) < 1e-9
    assert got[1].n_terms_matched == 1 and got[2].n_terms_matched == 0
    # more apple occurrences => higher likelihood
    assert got[1].ql > got[3].ql > got[2].ql


def test_rrf_fuse_golden(spark):
    """RRF fuses two rankings: a doc ranked #1 in both beats a doc
    ranked #1 in only one list; single-list docs still score."""
    from maston_spark.llm.text import rrf_fuse

    a = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [(10, 1), (13, 2), (11, 3)], "doc_id long, rank int"
    )
    got = {r.doc_id: r for r in rrf_fuse([a, b], k=60, top_k=10).collect()}
    assert got[10].n_lists == 2 and got[13].n_lists == 1
    # 10: 2/(60+1); 11: 1/62 + 1/63; 13: 1/62; 12: 1/63
    assert abs(got[10].rrf_score - round(2 * round(1 / 61, 9), 9)) < 1e-9
    assert got[10].rrf_score > got[11].rrf_score > got[13].rrf_score
    assert got[13].rrf_score > got[12].rrf_score


def test_profile_strings_golden(spark):
    from maston_spark.profiling import profile_strings

    df = spark.createDataFrame(
        [("abc", "x"), ("", None), ("abcde", "x")], "a string, b string"
    )
    prof = {r.column: r for r in profile_strings(df, ["a", "b"]).collect()}
    assert prof["a"].n_rows == 3 and prof["a"].n_nulls == 0
    assert prof["a"].n_empty == 1 and prof["a"].n_distinct == 3
    assert prof["a"].min_len == 0 and prof["a"].max_len == 5
    assert abs(prof["a"].avg_len - round(8 / 3, 6)) < 1e-9
    assert prof["b"].n_nulls == 1 and prof["b"].n_distinct == 1
    assert prof["b"].avg_len == 1.0  # null excluded from count(v)


def test_new_operators_handle_empty_input(spark):
    """Every round-8 operator must return an EMPTY (not failing)
    result on an empty corpus — the repartition/window machinery has
    zero-row edge paths that only this exercises."""
    from pyspark.sql import functions as F

    from maston_spark.llm.sampling import chunk_tokens, dsir_log_weights
    from maston_spark.llm.text import (
        exact_substring_dedup,
        lexical_diversity,
    )
    from maston_spark.profiling import profile_numeric, profile_strings

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_src = spark.createDataFrame([], "doc_id long, text string, source string")
    assert chunk_tokens(empty_docs).count() == 0
    assert lexical_diversity(empty_docs).count() == 0
    assert exact_substring_dedup(empty_docs).count() == 0
    assert (
        dsir_log_weights(empty_src, target_filter=F.col("source") == "x").count()
        == 0
    )
    empty_num = spark.createDataFrame([], "a double, b double")
    prof = {r.column: r for r in profile_numeric(empty_num, ["a", "b"]).collect()}
    # stacked generator yields no rows -> no groups at all (valid empty profile)
    assert prof == {} or all(p.n_rows == 0 for p in prof.values())
    empty_str = spark.createDataFrame([], "a string")
    assert profile_strings(empty_str, ["a"]).count() == 0


def test_kmeans_lloyd_separates_obvious_clusters(spark):
    from maston_spark.llm.similarity import kmeans_lloyd

    # two tight groups far apart in 2-D; k=2 must split them and
    # every member must sit nearer its own centroid
    pts = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(5)] + [
        (10 + i, [100.0, 100.0 + 0.01 * i]) for i in range(5)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<float>")
    out = kmeans_lloyd(df, k=2, iterations=3)
    rows = {r.vec_id: r for r in out.collect()}
    assert len(rows) == 10
    left = {rows[i].cluster for i in range(5)}
    right = {rows[10 + i].cluster for i in range(5)}
    assert len(left) == 1 and len(right) == 1 and left != right
    assert all(rows[i].sq_dist < 1.0 for i in rows)


def test_kmeans_driver_fit_matches_distributed_fit(spark, monkeypatch):
    """round-17: within the bounded-table contract the Lloyd fit runs
    driver-side (seed + intermediate iterations in one Arrow collect);
    the result must be BIT-IDENTICAL to the distributed per-iteration
    path on adversarial full-precision doubles (the decimal update
    replay is the risky part — see _kmeans_update_exact)."""
    import math

    import maston_spark.llm.similarity as sim

    # ugly, full-precision components: irrational-ish values, exact
    # halves, negative zeros, values near 9-dp rounding boundaries
    vals = [
        math.pi, -math.e, 1 / 3, 0.1 + 0.2, -0.0, 2**-30,
        1.2345678945, -9.87654321050, 123456.000000001, 0.5e-9,
    ]
    pts = [
        (i, [vals[(i + j) % len(vals)] * (1 + 0.01 * j) for j in range(4)])
        for i in range(24)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    a_drv, c_drv = sim._kmeans_fit(df, 3, 3, "vec_id", "embedding")
    drv_assigned = sorted(map(tuple, a_drv.collect()))
    drv_cent = sorted(map(tuple, c_drv.collect()))
    monkeypatch.setattr(sim, "_DRIVER_FIT_MAX_ROWS", 0)
    a_dst, c_dst = sim._kmeans_fit(df, 3, 3, "vec_id", "embedding")
    assert sorted(map(tuple, a_dst.collect())) == drv_assigned
    assert sorted(map(tuple, c_dst.collect())) == drv_cent


def test_pq_driver_paths_match_distributed(spark, monkeypatch):
    """round-17: within the bounded-collect contract the PQ train /
    encode / ADC tables (and the IVF probe window) replay driver-side;
    every consumer must be BIT-IDENTICAL to the distributed path on
    adversarial full-precision doubles — the round-9 HALF_UP replay,
    the decimal(28,9) mean replay and the (distance, cid) tie-breaks
    are the risky parts."""
    import math

    import maston_spark.llm.similarity as sim

    vals = [
        math.pi, -math.e, 1 / 3, 0.1 + 0.2, -0.0, 2**-30,
        1.2345678945, -9.87654321050, 123456.000000001, 0.5e-9,
        7.0710678118654755, -0.3333333333499999,
    ]
    pts = [
        (i, [vals[(i + j) % len(vals)] * (1 + 0.01 * j) for j in range(8)])
        for i in range(30)
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    queries = [0, 3, 7]

    def run_all():
        return {
            "codes": sorted(
                map(tuple, sim.pq_codes(df, m=2, sub_dim=4, k=3).collect())
            ),
            "adc": sorted(
                map(
                    tuple,
                    sim.pq_adc_topk(
                        df, queries, k_neighbors=2, m=2, sub_dim=4, k=3
                    ).collect(),
                )
            ),
            "ivf": sorted(
                map(
                    tuple,
                    sim.ivf_pq_topk(
                        df, queries, k_neighbors=2, n_cells=3, nprobe=2,
                        iterations=2, m=2, sub_dim=4, k=3,
                    ).collect(),
                )
            ),
            "res": sorted(
                map(
                    tuple,
                    sim.ivf_pq_residual_topk(
                        df, queries, k_neighbors=2, n_cells=3, nprobe=2,
                        iterations=2, m=2, sub_dim=4, k=3,
                    ).collect(),
                )
            ),
            "recall": sorted(
                map(
                    tuple,
                    sim.ivf_pq_recall(
                        df, queries, k_neighbors=2, n_cells=3, nprobe=2,
                        iterations=2, m=2, sub_dim=4, k=3,
                    ).collect(),
                )
            ),
        }

    drv = run_all()
    monkeypatch.setattr(sim, "_DRIVER_FIT_MAX_ROWS", 0)
    dst = run_all()
    for key in drv:
        assert drv[key] == dst[key], key


def test_weighted_sample_favors_heavy_rows_deterministically(spark):
    from maston_spark.llm.sampling import weighted_sample

    # 50 light rows (w=1) vs 50 heavy rows (w=100): the heavy side
    # must dominate the sample, and two runs must agree exactly
    rows = [(i, 1.0) for i in range(50)] + [(100 + i, 100.0) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    s1 = sorted(r.doc_id for r in weighted_sample(df, 20, "w").collect())
    s2 = sorted(r.doc_id for r in weighted_sample(df, 20, "w").collect())
    assert s1 == s2 and len(s1) == 20
    heavy = sum(1 for i in s1 if i >= 100)
    assert heavy >= 15  # w=100 vs w=1 -> overwhelming odds per slot


def test_bm25_matches_reference_formula(spark):
    import math

    from maston_spark.llm.text import bm25_rank

    docs = [
        (0, "cat dog fish"),
        (1, "cat cat cat dog"),
        (2, "fish fish bird bird bird bird"),
        (3, "dog"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in bm25_rank(df, ["cat", "bird"], top_k=10).collect()}

    # hand-computed Okapi BM25 (k1=1.2, b=0.75, Lucene idf)
    corpus = {i: t.split() for i, t in docs}
    n, avgdl = len(corpus), sum(len(t) for t in corpus.values()) / len(corpus)

    def idf(term):
        dfreq = sum(1 for t in corpus.values() if term in t)
        return math.log(1 + (n - dfreq + 0.5) / (dfreq + 0.5))

    def score(i):
        s, matched = 0.0, 0
        for term in ("cat", "bird"):
            tf = corpus[i].count(term)
            if tf == 0:
                continue
            matched += 1
            dl = len(corpus[i])
            s += idf(term) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
        return matched, s

    expect = {i: score(i) for i in corpus if score(i)[0] > 0}
    assert set(got) == set(expect)
    for i, (matched, s) in expect.items():
        assert got[i].n_terms_matched == matched
        assert abs(got[i].bm25 - s) < 1e-5, (i, got[i].bm25, s)
    # doc 1 (3x cat, short) must outrank doc 0 (1x cat)
    assert got[1].bm25 > got[0].bm25


def test_pmi_flags_collocations(spark):
    from maston_spark.llm.text import top_pmi_bigrams

    # "new york" always adjacent; "dog"/"fish" never adjacent to each other
    rows = [("new york is big",)] * 6 + [("dog runs",)] * 6 + [("fish swims",)] * 6
    df = spark.createDataFrame(rows, "text string")
    got = {r.bigram: r for r in top_pmi_bigrams(df, min_count=5, top_k=50).collect()}
    assert "new york" in got
    assert got["new york"].c_ab == 6 and got["new york"].c_a == 6
    # support filter: nothing below min_count
    assert all(r.c_ab >= 5 for r in got.values())
    # perfect collocation over a 48-token corpus: pmi = ln(6*48/(6*6)) = ln 8
    import math

    assert abs(got["new york"].pmi - math.log(6 * 48 / 36)) < 1e-6


def test_source_kl_zero_for_identical_distributions(spark):
    from maston_spark.llm.text import source_token_kl

    # two sources with IDENTICAL token distributions -> KL == 0 for both;
    # a third, disjoint source -> strictly positive for all three
    rows = (
        [(0, "a a b", "s0"), (1, "a a b", "s1")] * 5
        + [(2, "z z z", "s2")] * 5
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in source_token_kl(df).collect()}
    assert set(got) == {"s0", "s1", "s2"}
    assert got["s0"].kl_vs_corpus == got["s1"].kl_vs_corpus > 0
    assert got["s2"].kl_vs_corpus > got["s0"].kl_vs_corpus
    assert got["s0"].n_tokens == 15 and got["s0"].n_distinct_terms == 2

    # single source == corpus -> exact zero
    one = spark.createDataFrame(
        [(0, "x y z", "only")], "doc_id long, text string, source string"
    )
    assert source_token_kl(one).collect()[0].kl_vs_corpus == 0.0


def test_retrieval_operators_handle_empty_input(spark):
    from maston_spark.llm.text import bm25_rank, source_token_kl, top_pmi_bigrams

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_src = spark.createDataFrame([], "doc_id long, text string, source string")
    assert bm25_rank(empty_docs, ["x"]).count() == 0
    assert top_pmi_bigrams(empty_docs).count() == 0
    assert source_token_kl(empty_src).count() == 0


def test_split_leakage_audit_classifies_pairs(spark, sf_dir):
    from pyspark.sql import functions as F

    from maston_spark.llm.sampling import split_assign, split_expr
    from maston_spark.queries import all_queries

    # split_expr is the projection twin of split_assign
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    a = split_assign(df).select("doc_id", "split")
    b = df.select("doc_id", split_expr("doc_id").alias("split"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    rows = all_queries()["q126_split_leakage"](spark, sf_dir).collect()
    assert len(rows) > 0
    # partition of all near-dup pairs: fractions sum to 1
    assert abs(sum(r.frac_of_pairs for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert r.split_lo <= r.split_hi
        assert r.is_leak == (r.split_lo != r.split_hi)
    # the injected near-dups (id, id+1000000) land in independent
    # hash splits, so SOME cross-split leak must be detected
    assert any(r.is_leak for r in rows)


def test_budget_select_matches_global_window(spark):
    """Two-phase distributed prefix sum must equal the naive global
    ordered window cut — ties, exact budget hits, and a first-doc
    overflow included."""
    import random

    from pyspark.sql import Window

    from maston_spark.llm.sampling import budget_select

    rng = random.Random(7)
    rows = [
        (i, round(rng.choice([0.2, 0.5, 0.5, 0.9]), 6), rng.randint(1, 50))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, n_tokens long")

    def naive(budget):
        w = Window.orderBy(F.desc("score"), F.asc("doc_id")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return {
            (r.doc_id, r.cum_tokens)
            for r in df.select(
                "doc_id", F.sum("n_tokens").over(w).alias("cum_tokens")
            )
            .filter(F.col("cum_tokens") <= budget)
            .collect()
        }

    for budget in (0, 37, 1000, 10**9):
        got = {
            (r.doc_id, r.cum_tokens)
            for r in budget_select(df, budget, num_partitions=7).collect()
        }
        assert got == naive(budget), budget

    # exact budget boundary: cum == budget is kept
    small = spark.createDataFrame(
        [(0, 1.0, 10), (1, 0.9, 10), (2, 0.8, 10)],
        "doc_id long, score double, n_tokens long",
    )
    kept = {r.doc_id for r in budget_select(small, 20, num_partitions=3).collect()}
    assert kept == {0, 1}

    empty = spark.createDataFrame([], "doc_id long, score double, n_tokens long")
    assert budget_select(empty, 100).count() == 0


def test_rp_project_matches_numpy_sign_matrix(spark):
    import hashlib
    import math

    import numpy as np

    from maston_spark.llm.similarity import rp_project

    rng = np.random.default_rng(3)
    X = rng.normal(size=(20, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.vec_id, r.component): r.y
        for r in rp_project(df, out_dim=4, dims=8).collect()
    }
    assert len(got) == 20 * 4

    def sign(j, i):
        return 1.0 if hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0] >= "8" else -1.0

    # standard JL normalization: 1/sqrt(out_dim), not 1/sqrt(d)
    R = np.array([[sign(j, i) for i in range(8)] for j in range(4)])
    Y = (X.astype(np.float64) @ R.T) / math.sqrt(4.0)
    for (vid, j), y in got.items():
        assert abs(y - Y[vid, j]) < 1e-6, (vid, j, y, Y[vid, j])


def test_bpe_merges_golden(spark):
    from maston_spark.llm.text import bpe_merges

    # "low low low lower" x2: round 1 fuses 'low low' (4 occurrences
    # beat 'low lower' at 2); round 2 sees [low+low, low, lower] x2
    rows = [("low low low lower",)] * 2 + [("new new",)]
    df = spark.createDataFrame(rows, "text string")
    got = {r.step: r for r in bpe_merges(df, n_merges=2).collect()}
    assert got[1].pair == "low low" and got[1].pair_count == 4
    # after fusing leftmost 'low low' (separator consumed), each doc
    # is [low+low, low, lower]; 'new new' still has count 1 -> the
    # round-2 winner is a count-2 pair, lexicographically smallest
    assert got[2].pair_count == 2
    assert got[2].pair in ("low lower", "low+low low")
    # deterministic tie-break: count desc then pair asc
    assert got[2].pair == min("low lower", "low+low low")

    # merges never exceed available pairs; empty corpus -> no rows
    empty = spark.createDataFrame([], "text string")
    assert bpe_merges(empty, n_merges=2).count() == 0


def test_bpe_encode_golden(spark):
    from maston_spark.llm.text import bpe_encode, bpe_merges

    rows = [(0, "low low low lower"), (1, "low low low lower"), (2, "new new")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe_merges(df.select("text"), n_merges=2)
    got = {r.doc_id: r for r in bpe_encode(df, merges).collect()}
    # step 1 fuses 'low low' (leftmost, separator consumed): doc 0/1
    # become [low+low, low, lower] (3 tokens); step 2 fuses the
    # lexicographically-smallest count-2 pair 'low lower' ->
    # [low+low, low+lower] (2 tokens, both fused)
    assert got[0].n_base_tokens == 4
    assert got[0].n_bpe_tokens == 2
    assert got[0].n_fused_tokens == 2
    assert got[0].compression == 2.0
    assert got[1].n_bpe_tokens == 2
    # 'new new' matches no trained merge: untouched
    assert got[2].n_base_tokens == 2 and got[2].n_bpe_tokens == 2
    assert got[2].n_fused_tokens == 0 and got[2].compression == 1.0

    # an EMPTY merge table (untrained tokenizer) is the identity
    ident = bpe_encode(df, bpe_merges(df.limit(0), n_merges=2)).collect()
    assert all(r.n_base_tokens == r.n_bpe_tokens for r in ident)


def test_source_vocab_overlap_golden(spark):
    from maston_spark.llm.text import source_vocab_overlap

    rows = [
        ("s1", "a b c"),
        ("s1", "c d"),       # s1 vocab = {a,b,c,d}
        ("s2", "c d e"),     # s2 vocab = {c,d,e}
        ("s3", "x y"),       # s3 vocab = {x,y} — disjoint from s1/s2
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {(r.source_a, r.source_b): r for r in source_vocab_overlap(df).collect()}
    # disjoint pairs don't appear (inner join on shared terms)
    assert set(got) == {("s1", "s2")}
    r = got[("s1", "s2")]
    assert (r.vocab_a, r.vocab_b, r.n_shared) == (4, 3, 2)
    assert abs(r.jaccard - 2 / 5) < 1e-9

    # empty corpus -> no rows, not an error
    empty = spark.createDataFrame([], "source string, text string")
    assert source_vocab_overlap(empty).count() == 0


def test_label_centroid_similarity_golden(spark):
    from maston_spark.llm.similarity import label_centroid_similarity

    rows = [
        # label 0: centroid (1, 0)
        (0, [1.0, 0.0]), (0, [1.0, 0.0]),
        # label 1: centroid (0, 2)  -> orthogonal to label 0
        (1, [0.0, 1.0]), (1, [0.0, 3.0]),
        # label 2: centroid (2, 0)  -> parallel to label 0
        (2, [2.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "label int, embedding array<float>")
    got = {(r.label_a, r.label_b): r for r in label_centroid_similarity(df).collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}
    assert got[(0, 1)].cosine == 0.0
    assert got[(0, 2)].cosine == 1.0
    assert got[(1, 2)].cosine == 0.0
    assert (got[(0, 1)].n_a, got[(0, 1)].n_b) == (2, 2)
    assert got[(0, 2)].n_b == 1

    # an all-zero centroid yields NULL cosine, never a divide error
    z = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])], "label int, embedding array<float>"
    )
    [zr] = label_centroid_similarity(z).collect()
    assert zr.cosine is None


def test_constraint_report_counts_each_violation_kind(spark):
    from maston_spark.profiling import constraint_report

    rows = [
        (1, "a", 10, "en"),
        (1, None, 500, "en"),   # dup id, null text, out-of-range
        (2, "b", -5, "xx"),     # below range, bad lang
        (3, "c", 50, None),     # NULL lang is NOT an accepted_values violation
    ]
    df = spark.createDataFrame(rows, "id long, text string, n int, lang string")
    rep = {
        r.rule: r
        for r in constraint_report(
            df,
            [
                {"kind": "unique", "cols": ["id"]},
                {"kind": "not_null", "col": "text"},
                {"kind": "range", "col": "n", "min": 0, "max": 300},
                {"kind": "accepted_values", "col": "lang", "values": ["en"]},
            ],
        ).collect()
    }
    assert all(r.n_rows == 4 for r in rep.values())
    assert rep["unique:id"].n_violations == 1
    assert rep["not_null:text"].n_violations == 1
    assert rep["range:n"].n_violations == 2
    assert rep["accepted_values:lang"].n_violations == 1
    assert not rep["range:n"].passed and rep.get("unique:id").passed is False

    # FK: NULL keys are not violations (SQL semantics); missing refs are
    child = spark.createDataFrame(
        [(1,), (2,), (None,), (9,)], "k long"
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    [fk] = constraint_report(
        child,
        [{"kind": "foreign_key", "col": "k", "ref": parent, "ref_col": "pk"}],
    ).collect()
    assert (fk.n_rows, fk.n_violations, fk.passed) == (4, 1, False)


def test_multiprobe_recall_dominates_single_bucket(spark, sf_dir):
    from maston_spark.llm.similarity import ann_recall

    from maston_spark.session import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    r0 = {r.query_id: r.recall for r in ann_recall(
        emb, list(range(10)), k=3, max_hamming=0).collect()}
    r1 = {r.query_id: r.recall for r in ann_recall(
        emb, list(range(10)), k=3, max_hamming=1).collect()}
    # probing more buckets can only add candidates -> recall is monotone
    assert all(r1[q] >= r0[q] for q in r0)
    # probing EVERY bucket (hamming <= n_planes) IS the exact scan
    rfull = ann_recall(emb, list(range(10)), k=3, max_hamming=6).collect()
    assert all(r.recall == 1.0 for r in rfull)

def test_int8_topk_matches_exact_integer_ranking(spark):
    import numpy as np

    from maston_spark.llm.similarity import int8_topk

    # every vector gets amax == 1.0 (component 0 pinned) and all other
    # components are multiples of 1/127, so quantization recovers the
    # integer grid EXACTLY: the operator's ranking must equal the
    # numpy int64 dot ranking with (dot desc, id asc) tie-break
    rng = np.random.default_rng(7)
    N = rng.integers(-127, 128, size=(30, 8))
    N[:, 0] = 127
    X = N.astype(np.float64) / 127.0
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.query_id, r.rn): (r.neighbor_id, r.dot)
        for r in int8_topk(df, query_ids=[0, 1], k=3).collect()
    }
    ids = np.arange(len(N))
    for q in (0, 1):
        d = N @ N[q]
        mask = ids != q
        order = ids[mask][np.lexsort((ids[mask], -d[mask]))][:3]
        for rn, nid in enumerate(order, start=1):
            assert got[(q, rn)] == (nid, int(d[nid])), (q, rn)


def test_ccnet_buckets_terciles(spark, sf_dir):
    from maston_spark.llm.text import ccnet_buckets
    from maston_spark.session import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    rows = ccnet_buckets(d).collect()
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r.ccnet_bucket, []).append(r.bits_per_bigram)
    assert set(by_bucket) == {"head", "middle", "tail"}
    # terciles: each bucket holds ~1/3 of the corpus
    n = len(rows)
    for vals in by_bucket.values():
        assert abs(len(vals) - n / 3) <= n * 0.05
    # ordering invariant: every head score <= every middle <= every tail
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_gopher_gate_reasons(spark):
    from maston_spark.llm.text import gopher_gate

    rows = [
        (1, "the quick brown fox jumps over a lazy dog while birds "
            "sing and children play near those quiet rivers today"),  # clean
        (2, "spam spam spam spam spam spam spam spam spam spam spam "
            "spam spam spam spam spam spam spam spam spam spam"),   # repetitive
        (3, "tiny doc"),                                            # too short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_gate(df, min_tokens=5).collect()}
    assert got[1].keep and got[1].fail_reasons == ""
    assert not got[2].keep
    reasons2 = got[2].fail_reasons.split(",")
    assert "top_bigram_frac_high" in reasons2 and "dup_bigram_frac_high" in reasons2
    assert not got[3].keep and "too_few_tokens" in got[3].fail_reasons
    # reason order is the declared rule order
    assert got[2].fail_reasons.index("top_bigram") < got[2].fail_reasons.index("dup_bigram")


def test_k_anonymity_flags_small_classes(spark):
    from maston_spark.profiling import k_anonymity_report

    rows = [("a", 1)] * 5 + [("a", 2)] * 2 + [("b", 1)] * 3
    df = spark.createDataFrame(rows, "seg string, nat int")
    got = {
        (r.seg, r.nat): (r.class_size, r.at_risk)
        for r in k_anonymity_report(df, ["seg", "nat"], k=3).collect()
    }
    assert got == {("a", 1): (5, False), ("a", 2): (2, True), ("b", 1): (3, False)}


def test_pq_codes_recovers_planted_codebook(spark):
    import numpy as np

    from maston_spark.llm.similarity import pq_codes

    # plant 4 well-separated prototypes per subspace; every vector is
    # an exact prototype copy, so one Lloyd iteration must assign
    # zero quantization error and identical codes for identical rows
    rng = np.random.default_rng(3)
    protos = rng.normal(size=(4, 16)) * 10.0
    assign = rng.integers(0, 4, size=30)
    # ids 0..3 seed the codebook: make them the 4 distinct prototypes
    assign[:4] = np.arange(4)
    X = protos[assign]
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    got = pq_codes(df, m=2, sub_dim=8, k=4).collect()
    assert len(got) == 30 * 2
    # zero reconstruction error everywhere (exact prototype copies)
    assert all(r.sq_dist == 0.0 for r in got)
    # identical vectors get identical per-subspace codes
    codes = {}
    for r in got:
        codes.setdefault(r.vec_id, {})[r.subspace] = r.code
    for i in range(30):
        assert codes[i] == codes[int(np.nonzero(assign[:4] == assign[i])[0][0])]


def test_pq_adc_exact_on_planted_codebook(spark):
    import numpy as np

    from maston_spark.llm.similarity import pq_adc_topk

    # prototype-pure corpus (zero quantization error): ADC distance
    # equals TRUE squared distance, so the ADC ranking must equal the
    # exact L2 ranking
    rng = np.random.default_rng(5)
    protos = rng.normal(size=(4, 16)) * 10.0
    assign = rng.integers(0, 4, size=30)
    assign[:4] = np.arange(4)
    X = protos[assign]
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r.query_id, r.rn): r.neighbor_id
        for r in pq_adc_topk(df, query_ids=[0, 1], k_neighbors=3,
                             m=2, sub_dim=8, k=4).collect()
    }
    Xf = np.array([np.array(x, dtype=np.float32) for x in X.tolist()]).astype(np.float64)
    ids = np.arange(len(X))
    for q in (0, 1):
        d = ((Xf - Xf[q]) ** 2).sum(axis=1)
        mask = ids != q
        order = ids[mask][np.lexsort((ids[mask], d[mask]))][:3]
        for rn, nid in enumerate(order, start=1):
            assert got[(q, rn)] == nid, (q, rn, got[(q, rn)], nid)


def test_source_dup_matrix_golden(spark):
    from maston_spark.llm.dedup import source_dup_matrix

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, "crawlA", base),
        (1, "crawlA", "totally different words here nothing shared at all ok"),
        (2, "crawlB", base + " mu"),  # near-copy of doc 0 across sources
        (3, "crawlB", "another unrelated document with its own vocabulary set"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r.source_a, r.source_b): r
        for r in source_dup_matrix(df, threshold=0.5).collect()
    }
    assert set(got) == {("crawlA", "crawlB")}
    r = got[("crawlA", "crawlB")]
    assert r.n_dup_pairs == 1
    assert r.n_docs_a == 1 and r.n_docs_b == 1
    # one of crawlA's two docs and one of crawlB's two docs implicated
    assert r.dup_rate_a == 0.5 and r.dup_rate_b == 0.5


def test_pareto_frontier_golden(spark):
    from maston_spark.llm.sampling import pareto_frontier

    # (quality, cost): frontier is {(9,1), (10,3)}; (9,3) is beaten
    # on quality at equal cost, (8,2) is beaten on BOTH by (9,1),
    # (10,5) is beaten on cost at equal quality by (10,3). The tied
    # duplicate of (9,1) survives (skyline keeps coordinate ties).
    rows = [
        (0, 9.0, 1), (1, 8.0, 2), (2, 10.0, 3), (3, 9.0, 3),
        (4, 10.0, 5), (5, 9.0, 1),
    ]
    df = spark.createDataFrame(rows, "id long, q double, c long").repartition(3)
    got = sorted(
        (r.id, r.q, r.c) for r in pareto_frontier(df, "q", "c").collect()
    )
    assert got == [(0, 9.0, 1), (2, 10.0, 3), (5, 9.0, 1)]

    # single row is trivially on the frontier
    one = spark.createDataFrame([(7, 1.0, 1)], "id long, q double, c long")
    assert pareto_frontier(one, "q", "c").count() == 1


def test_strip_boilerplate_prefix_golden(spark):
    from maston_spark.llm.text import strip_boilerplate_prefix

    banner = "one two three four five"
    rows = [
        (0, banner + " body a"),
        (1, banner + " body b longer"),
        (2, banner),            # exactly the banner -> strips to ""
        (3, "unrelated text that stays put"),
        (4, "one two three"),   # < k tokens: never considered
        (5, banner + " body c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in strip_boilerplate_prefix(df, k_tokens=5, min_docs=3).collect()}
    assert got[0].stripped and got[0].text_out == "body a"
    assert got[1].stripped and got[1].text_out == "body b longer"
    assert got[2].stripped and got[2].text_out == ""
    assert not got[3].stripped and got[3].text_out == rows[3][1]
    assert not got[4].stripped and got[4].text_out == "one two three"
    assert got[5].stripped and got[5].text_out == "body c"

    # below the document threshold: nothing strips
    few = spark.createDataFrame(rows[:2], "doc_id long, text string")
    out = strip_boilerplate_prefix(few, k_tokens=5, min_docs=3).collect()
    assert all(not r.stripped for r in out)


def test_domain_water_fill_golden(spark):
    from maston_spark.llm.sampling import domain_water_fill

    # sizes: a=1, b=5, c=5 (total 11). budget = 9 -> level 4:
    # alloc = [1, 4, 4], remainder 0.
    rows = (
        [("a", 0)] + [("b", i) for i in range(5)] + [("c", i) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "d string, x long")
    got = {r.domain: (r.n_docs, r.alloc)
           for r in domain_water_fill(df, "d", 9, 11).collect()}
    assert got == {"a": (1, 1), "b": (5, 4), "c": (5, 4)}

    # budget 7 of 15 over [5,5,5] -> level 2, remainder 1 to the
    # name-first above-line domain
    df2 = spark.createDataFrame(
        [(d, i) for d in "abc" for i in range(5)], "d string, x long"
    )
    got = {r.domain: r.alloc for r in domain_water_fill(df2, "d", 7, 15).collect()}
    assert got == {"a": 3, "b": 2, "c": 2}
    # budget >= total: everything kept
    got = {r.domain: r.alloc for r in domain_water_fill(df2, "d", 2, 1).collect()}
    assert got == {"a": 5, "b": 5, "c": 5}
    # zero budget: nothing kept
    got = {r.domain: r.alloc for r in domain_water_fill(df2, "d", 0, 1).collect()}
    assert got == {"a": 0, "b": 0, "c": 0}


def test_oov_rate_golden(spark):
    from maston_spark.llm.text import oov_rate

    vocab_src = spark.createDataFrame(
        [("alpha beta gamma",)], "text string"
    )
    corpus = spark.createDataFrame(
        [
            ("s1", "alpha beta beta"),          # fully in-vocab
            ("s2", "alpha NOVEL beta NOVEL"),   # 2 of 4 occurrences OOV
        ],
        "source string, text string",
    )
    got = {r.source: r for r in oov_rate(corpus, vocab_src).collect()}
    assert got["s1"].n_tokens == 3 and got["s1"].n_oov == 0
    assert got["s1"].oov_rate == 0.0
    assert got["s2"].n_tokens == 4 and got["s2"].n_oov == 2
    assert got["s2"].oov_rate == 0.5


def test_domain_water_fill_weighted_golden(spark):
    from maston_spark.llm.sampling import domain_water_fill

    # domain weights: a=3 (1+2), b=10 (10), c=7 (3+4); budget half of
    # 20 = 10 -> bracket: level 3? sorted sizes [3,7,10], cum [3,10,20]
    # i=1: L=(10-0)//3=3, valid 0<=3<3? no (3 !< 3). i=2: L=(10-3)//2=3,
    # valid 3<=3<7 yes -> level 3: base [3,3,3]=9, rem 1 -> first
    # above-line domain by name ('b' or 'c'; both >3 -> 'b') gets +1
    rows = [("a", 1), ("a", 2), ("b", 10), ("c", 3), ("c", 4)]
    df = spark.createDataFrame(rows, "d string, w long")
    got = {r.domain: (r.n_docs, r.alloc)
           for r in domain_water_fill(df, "d", 1, 2, weight_col="w").collect()}
    assert got == {"a": (3, 3), "b": (10, 4), "c": (7, 3)}


def test_neardup_evidence_golden(spark):
    from maston_spark.llm.dedup import neardup_evidence

    base = "one two three four five six"
    docs = spark.createDataFrame(
        [(0, base), (1, base + " seven"), (2, "totally different words here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    got = neardup_evidence(docs, pairs, top_n=2).collect()
    assert len(got) == 2
    assert all(r.id_a == 0 and r.id_b == 1 for r in got)
    # evidence shingles must genuinely occur in BOTH docs
    shared = {
        "one two three", "two three four", "three four five", "four five six"
    }
    assert {r.shingle for r in got} <= shared
    assert [r.rank for r in sorted(got, key=lambda r: r.rank)] == [1, 2]


# ---------------- prefix-filter exact similarity join (losslessness)


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("aa bb cc dd ee ff gg hh".split()),
            min_size=3,
            max_size=12,
        ),
        min_size=2,
        max_size=10,
    ),
    tau=st.sampled_from([0.5, 0.6, 0.7, 0.8]),
)
def test_exact_simjoin_matches_bruteforce(spark, docs, tau):
    """For ANY doc set and tau: the join returns EXACTLY the pairs
    with shingle-Jaccard >= tau that a brute-force all-pairs
    computation finds — the completeness contract (a missed pair is
    a defect by contract, unlike LSH; the size-ratio prune must be
    lossless)."""
    from maston_spark.llm.dedup import exact_jaccard_simjoin

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
    got = {
        (r.doc_a, r.doc_b): (r.n_common, r.jaccard)
        for r in exact_jaccard_simjoin(
            df, "doc_id", "text", tau=tau, shingle_n=2
        ).collect()
    }

    def sh_set(ws):
        return {f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)}

    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = sh_set(docs[i]), sh_set(docs[j])
            if not a or not b:
                continue
            inter = len(a & b)
            uni = len(a | b)
            if uni and inter / uni >= tau:
                expect[(i, j)] = inter
    assert set(got) == set(expect), (got, expect, tau)
    for k, n in expect.items():
        assert got[k][0] == n, (k, got[k], n)


def test_exact_simjoin_hot_shingle_block_path(spark):
    """Planted pathological shingle skew (one stop-shingle in ~30% of
    docs): with the threshold forcing the hot path, (a) the result
    still EXACTLY matches brute force — block partitioning is
    algebraic salting of the intersection count, not an
    approximation; (b) the hot path's join-key groups are bounded by
    ~df/n_blocks per side instead of df — no single-task key."""
    import itertools

    from maston_spark.llm.dedup import exact_jaccard_simjoin

    rng_words = "aa bb cc dd ee ff gg hh ii jj kk ll mm nn oo pp".split()
    docs = {}
    n = 60
    for i in range(n):
        # deterministic distinct body per doc
        body = [rng_words[(i * 3 + k) % len(rng_words)] for k in range(6)]
        if i % 3 == 0:  # ~30% of docs carry the planted hot bigram
            body = ["the", "of"] + body
        docs[i] = " ".join(body)
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string").repartition(5)

    def sh_set(text):
        ws = text.split()
        return {f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)}

    tau = 0.5
    expect = {}
    for i, j in itertools.combinations(range(n), 2):
        a, b = sh_set(docs[i]), sh_set(docs[j])
        inter, uni = len(a & b), len(a | b)
        if uni and inter / uni >= tau:
            expect[(i, j)] = inter

    got = {
        (r.doc_a, r.doc_b): r.n_common
        for r in exact_jaccard_simjoin(
            df, "doc_id", "text", tau=tau, shingle_n=2,
            hot_df_threshold=10, n_blocks=4,
        ).collect()
    }
    assert got == expect, (got, expect)

    # the planted shingle "the of" has df = 20 > 10: on the hot path
    # its per-(sh, u, v) group carries ~df/n_blocks rows per side
    hot_df = sum(1 for i in range(n) if i % 3 == 0)
    per_block = (
        df.filter(F.col("text").startswith("the of"))
        .select(F.pmod(F.xxhash64("doc_id"), F.lit(4)).cast("int").alias("u"))
        .groupBy("u")
        .count()
        .collect()
    )
    max_block = max(r["count"] for r in per_block)
    assert max_block < hot_df, (max_block, hot_df)  # genuinely split
    # a fair hash spreads 20 ids over 4 blocks well below the full df
    assert max_block <= hot_df // 2, per_block


def test_greedy_coverage_matches_python_greedy(spark):
    """The distributed greedy equals a sequential python greedy on a
    hand corpus (including the early-stop when everything is
    covered and the smallest-id tie-break)."""
    from maston_spark.llm.sampling import greedy_token_coverage

    docs = {
        0: "a b c d",
        1: "a b c d",      # tie with doc 0 -> 0 wins
        2: "e f g",
        3: "e f",
        4: "h",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    out = [
        (r.step, r.doc_id, r.n_new_tokens, r.n_covered_total)
        for r in greedy_token_coverage(df, "doc_id", "text", k=10).collect()
    ]
    # python greedy
    sets = {i: set(t.split()) for i, t in docs.items()}
    covered, expect, step = set(), [], 0
    while True:
        gains = {i: len(s - covered) for i, s in sets.items() if len(s - covered) > 0}
        if not gains:
            break
        best = min(gains, key=lambda i: (-gains[i], i))
        covered |= sets[best]
        step += 1
        expect.append((step, best, gains[best], len(covered)))
    assert out == expect, (out, expect)


def test_hard_negatives_excludes_same_label_and_self(spark):
    """Hard-negative mining: every returned neighbor has a DIFFERENT
    label than its anchor, the anchor itself never appears, and
    ranking is by similarity with id tie-break."""
    from maston_spark.llm.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),   # anchor
        (1, [1.0, 0.01], 0),  # same label, most similar -> excluded
        (2, [1.0, 0.1], 1),   # different label, very similar
        (3, [0.9, 0.3], 1),
        (4, [0.0, 1.0], 2),   # different label, orthogonal
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = hard_negatives(df, [0], k=2).collect()
    assert [(r.neighbor_id, r.rn) for r in out] == [(2, 1), (3, 2)]
    assert all(r.neighbor_label != 0 for r in out)


def test_priority_sample_matches_python_replay_and_weighting(spark):
    """The sample equals a python replay of the exact integer
    priority (md5 lane), weight<=0 rows never win, and a 100x-heavier
    row beats uniform-weight rows with overwhelming frequency."""
    import hashlib

    from maston_spark.llm.sampling import priority_sample

    rows = [(i, 100 if i == 7 else 1) for i in range(200)] + [(900, 0)]
    df = spark.createDataFrame(rows, "doc_id long, w long").repartition(4)
    got = [(r.doc_id, r.priority) for r in priority_sample(df, "doc_id", "w", k=10).collect()]

    def pr(i, w):
        lane = int(hashlib.md5(f"ps:{i}".encode()).hexdigest()[:8], 16)
        return (w * (1 << 32)) // (lane + 1)

    expect = sorted(
        ((i, pr(i, w)) for i, w in rows if w > 0),
        key=lambda t: (-t[1], t[0]),
    )[:10]
    assert got == expect
    assert all(i != 900 for i, _ in got)
    assert any(i == 7 for i, _ in got)  # P(miss) ~ (1/101)^10-ish


def test_neyman_allocation_hand_case(spark):
    """Constant stratum (sd=0) gets 0; allocation tracks N_h*sd_h,
    never exceeds a stratum's population, and sums to n_total when
    caps don't bind."""
    from maston_spark.llm.sampling import neyman_allocation

    rows = (
        [("const", 10.0)] * 50
        + [("wild", float(v)) for v in range(100)]      # sd ~ 28.9
        + [("mild", float(v % 10)) for v in range(100)]  # sd ~ 2.87
    )
    df = spark.createDataFrame(rows, "s string, v double")
    out = {r.stratum: r for r in neyman_allocation(df, "s", "v", n_total=60).collect()}
    assert out["const"].alloc == 0 and out["const"].sd == 0.0
    assert out["wild"].alloc + out["mild"].alloc + out["const"].alloc == 60
    assert out["wild"].alloc > out["mild"].alloc
    assert all(r.alloc <= r.n_rows for r in out.values())


def test_ipf_rake_converges_margins_toward_uniform(spark):
    """On a skewed 2x2 table, two raking iterations pull both margins
    close to uniform (exactly uniform in the raked-last axis), and
    total weight mass stays ~N."""
    from maston_spark.llm.sampling import ipf_rake

    rows = (
        [("a", "x")] * 70 + [("a", "y")] * 10
        + [("b", "x")] * 10 + [("b", "y")] * 10
    )
    df = spark.createDataFrame(rows, "r string, c string")
    out = {(x.r, x.c): x.weight for x in ipf_rake(df, "r", "c", 2).collect()}
    n = 100.0
    col_x = out[("a", "x")] + out[("b", "x")]
    col_y = out[("a", "y")] + out[("b", "y")]
    # columns were raked last -> exactly uniform (to the 9-grid)
    assert abs(col_x - n / 2) < 1e-5 and abs(col_y - n / 2) < 1e-5
    row_a = out[("a", "x")] + out[("a", "y")]
    # rows converged toward 50 (raw margin was 80)
    assert abs(row_a - n / 2) < 6.0
    assert abs(sum(out.values()) - n) < 1e-4


def test_chao1_known_frequency_profile(spark):
    """Hand corpus with known frequency-of-frequencies: V=5, n1=2,
    n2=2 -> chao1 = 5 + 2*1/(2*3) = 5.333...; GT unseen = 2/9."""
    from maston_spark.llm.text import chao1_vocab_richness

    docs = [("s", "a a a b b c c d e")]
    df = spark.createDataFrame(docs, "source string, text string")
    [r] = chao1_vocab_richness(df, "source", "text").collect()
    assert (r.n_tokens, r.v_observed, r.n_singletons, r.n_doubletons) == (9, 5, 2, 2)
    assert r.chao1 == round(5 + 2 * 1 / (2 * 3), 4)
    assert r.gt_unseen_mass == round(2 / 9, 6)


def test_survivorship_merge_modal_values_and_ties(spark):
    """Golden record per cluster: the modal non-null value wins each
    field; ties break by value sort order; NULLs don't vote; the
    agreement ratio counts only voting rows."""
    from maston_spark.llm.dedup import survivorship_merge

    rows = [
        ("c1", "en", "web"), ("c1", "en", "web"), ("c1", "xx", "web"),
        ("c1", None, "arxiv"),
        ("c2", "fr", None), ("c2", "de", None),  # tie -> 'de' (value order)
    ]
    df = spark.createDataFrame(rows, "cluster string, lang string, src string")
    out = {(r.cluster, r.field): r for r in survivorship_merge(df, "cluster", ["lang", "src"]).collect()}
    assert out[("c1", "lang")].value == "en"
    assert out[("c1", "lang")].n_votes == 2 and out[("c1", "lang")].n_rows == 3
    assert out[("c1", "src")].value == "web" and out[("c1", "src")].n_votes == 3
    assert out[("c2", "lang")].value == "de"  # tie broken by value asc
    assert ("c2", "src") not in out  # all-NULL field: nothing to elect


def test_readability_scores_hand_counts(spark):
    """Hand-counted sentences / words / vowel groups and the Flesch
    closing expression; punctuation-free prose counts as ONE
    sentence, never zero."""
    from maston_spark.llm.text import readability_scores

    rows = [
        ("s1", "The cat sat. The dog ran!"),   # 2 sentences, 6 words
        ("s1", "no punctuation here"),          # 1 sentence, 3 words
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    [r] = readability_scores(df, "text", "source").collect()
    assert (r.n_docs, r.n_sentences, r.n_words) == (2, 3, 9)
    # vowel groups: the|cat|sat -> e,a,a; the|dog|ran -> e,o,a (6);
    # no|punctuation|here -> o, u-ua-io (u,ua,io = 3), e,e (2) -> 6
    assert r.n_syllables == 12
    wps, spw = 9 / 3, 12 / 9
    assert r.flesch == round(206.835 - 1.015 * wps - 84.6 * spw, 6)


def test_effective_sample_size_kish_known_cases(spark):
    """Uniform weights -> n_eff = n exactly (eff_ratio 1); one giant
    weight among ones -> hand-computed Kish; non-positive weights
    drop before the fold."""
    from maston_spark.llm.sampling import effective_sample_size

    rows = (
        [("u", 5.0)] * 8
        + [("c", 1.0)] * 9 + [("c", 91.0)]
        + [("z", -3.0), ("z", 0.0), ("z", 2.0)]
    )
    df = spark.createDataFrame(rows, "src string, w double")
    out = {r.group: r for r in effective_sample_size(df, "src", "w").collect()}
    assert out["u"].n_eff == 8.0 and out["u"].eff_ratio == 1.0
    sw, sww = 9 * 1.0 + 91.0, 9 * 1.0 + 91.0**2
    assert out["c"].n_eff == round(sw * sw / sww, 6)
    assert out["c"].max_w_share == round(91.0 / sw, 6)
    assert out["z"].n_rows == 1 and out["z"].sum_w == 2.0


def test_effective_sample_size_judges_positivity_on_the_rounded_weight(spark):
    """A raw weight in (0, 5e-7) rounds to exactly 0 on the 6-grid:
    it must not count toward n_rows (it carries zero weight), and a
    group made entirely of such weights must vanish instead of
    closing 0/0."""
    from maston_spark.llm.sampling import effective_sample_size

    rows = [("m", 1.0)] * 4 + [("m", 2e-7)] + [("tiny", 1e-7), ("tiny", 4e-7)]
    df = spark.createDataFrame(rows, "src string, w double")
    out = {r.group: r for r in effective_sample_size(df, "src", "w").collect()}
    assert "tiny" not in out
    assert out["m"].n_rows == 4 and out["m"].n_eff == 4.0


def test_systematic_sample_every_kth_and_deterministic(spark):
    """Exactly ceil(n/k) rows, sample ranks form the arithmetic grid
    1, k+1, ..., invariant to partitioning, and a different salt
    picks a different set."""
    from maston_spark.llm.sampling import systematic_sample

    df = spark.createDataFrame([(i,) for i in range(200)], "id int")
    got = systematic_sample(df.repartition(7), "id", k=10).collect()
    got2 = systematic_sample(df.repartition(3), "id", k=10).collect()
    assert [r.id for r in got] == [r.id for r in got2]
    assert [r.rank for r in got] == list(range(1, 201, 10))
    assert [r.sample_idx for r in got] == list(range(1, 21))
    other = systematic_sample(df, "id", k=10, salt="other").collect()
    assert {r.id for r in other} != {r.id for r in got}


def test_assortativity_known_graphs(spark):
    """A star graph is maximally disassortative (r = -1); a graph of
    two disjoint cliques of different sizes is degree-regular within
    components but not overall — value matches a plain-python
    Pearson over symmetrized endpoint degrees."""
    from maston_spark.graph import assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a int, id_b int"
    )
    [rs] = assortativity(star).collect()
    assert rs.r == -1.0 and rs.n_nodes == 6 and rs.n_edges == 5
    # path graph P4: degrees 1,2,2,1
    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "id_a int, id_b int"
    )
    [rp] = assortativity(path).collect()
    deg = {0: 1, 1: 2, 2: 2, 3: 1}
    pts = []
    for a, b in ((0, 1), (1, 2), (2, 3)):
        pts += [(deg[a], deg[b]), (deg[b], deg[a])]
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] ** 2 for p in pts)
    want = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    assert rp.r == round(want, 6)
    # the same path with repeated edges in both orientations, a
    # self-loop and NULL endpoints: the operator's own dedupe gives
    # the clean list's row
    dirty = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 1), (2, 1), (2, 3), (3, 2), (0, 1),
         (2, 2), (None, 1), (3, None), (None, None)],
        "id_a int, id_b int",
    )
    [rd] = assortativity(dirty).collect()
    assert rd == rp
    # a clique is degree-regular -> zero variance -> NULL
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(a + 1, 4)], "id_a int, id_b int"
    )
    [rk] = assortativity(k4).collect()
    assert rk.r is None


def test_good_turing_unseen_mass_hand_case(spark):
    """Planted frequency profile: 3 singletons, 2 doubletons, 1
    five-times item -> N=12, p_unseen=3/12, r1*=2*2/3; an all-
    repeated stream has p_unseen 0 and NULL discount."""
    from maston_spark.llm.text import good_turing_unseen

    items = ["a", "b", "c"] + ["d", "d", "e", "e"] + ["f"] * 5
    df = spark.createDataFrame([(i,) for i in items], "tok string")
    [r] = good_turing_unseen(df, "tok").collect()
    assert (r.n_items, r.vocab) == (12, 6)
    assert (r.n_singletons, r.n_doubletons) == (3, 2)
    assert r.p_unseen == 0.25 and r.r1_adjusted == round(4 / 3, 6)
    rep = spark.createDataFrame([("x",), ("x",), ("y",), ("y",)], "tok string")
    [rr] = good_turing_unseen(rep, "tok").collect()
    assert rr.p_unseen == 0.0 and rr.r1_adjusted is None


def test_cluster_quality_audit_flags_overlap(spark):
    """Two tight far-apart blobs score near-perfect (silhouette ≈ 1,
    n_negative 0, small Davies-Bouldin); pushing the blobs into
    overlap must worsen BOTH audits monotonically. db_index equals
    the mean of the per-cluster r_max by definition."""
    from maston_spark.llm.similarity import davies_bouldin, silhouette_centroid

    def blobs(sep, spread):
        pts = [(i, [0.0 + spread * i, 0.0]) for i in range(6)] + [
            (10 + i, [sep, sep + spread * i]) for i in range(6)
        ]
        return spark.createDataFrame(pts, "vec_id long, embedding array<float>")

    good = blobs(8.0, 0.01)
    bad = blobs(0.4, 0.3)  # blobs bleed into each other

    db_g = {r.cluster: r for r in davies_bouldin(good, k=2, iterations=3).collect()}
    db_b = {r.cluster: r for r in davies_bouldin(bad, k=2, iterations=3).collect()}
    assert len(db_g) == 2 and len(db_b) == 2
    for rows in (db_g, db_b):
        want = round(sum(round(r.r_max, 9) for r in rows.values()) / len(rows), 6)
        assert all(abs(r.db_index - want) < 2e-6 for r in rows.values()), rows
    assert all(r.scatter < 0.1 for r in db_g.values())
    dbi_g = next(iter(db_g.values())).db_index
    dbi_b = next(iter(db_b.values())).db_index
    assert dbi_b > dbi_g

    sil_g = {r.cluster: r for r in silhouette_centroid(good, k=2, iterations=3).collect()}
    sil_b = {r.cluster: r for r in silhouette_centroid(bad, k=2, iterations=3).collect()}
    for rows in (sil_g, sil_b):
        for r in rows.values():
            assert -1.0 <= r.mean_silhouette <= 1.0
    assert all(r.mean_silhouette > 0.9 for r in sil_g.values())
    assert all(r.n_negative == 0 for r in sil_g.values())
    assert min(r.mean_silhouette for r in sil_b.values()) < min(
        r.mean_silhouette for r in sil_g.values()
    )


def test_leakage_safe_split_invariant(spark):
    """On the sf0.001 corpus: the cluster-aware split NEVER places a
    verified near-dup pair across train/test (the invariant), the
    naive doc-level split does (the counterfactual it reports), and
    split doc counts partition the corpus."""
    from maston_spark.queries import all_queries

    [r] = (
        all_queries()["q291_leakage_safe_split"](spark, "/root/testdata/sf0.001")
        .collect()
    )
    assert r.cluster_cross_pairs == 0
    assert r.n_dup_pairs > 0
    assert r.naive_cross_pairs > 0  # the leakage a doc-level hash split causes
    assert r.train_docs + r.val_docs + r.test_docs == r.n_docs


def test_rake_keyphrases_hand_scores(spark):
    """Classic RAKE arithmetic on a tiny corpus: stopwords and
    punctuation break phrases, word score = degree/frequency, phrase
    score = sum of word scores; over-long runs drop."""
    from maston_spark.llm.text import rake_keyphrases

    rows = [
        (1, "the red fox and blue fox"),
        (2, "red fox! of deep learning"),
        (3, "a b1 c d e f g h"),  # b1 breaks; c..h run of 6 drops (cap 4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.phrase: r for r in rake_keyphrases(df, "doc_id", "text", top_k=50).collect()}
    # phrases: doc1 {red fox, blue fox}; doc2 {red, deep learning}
    # ('fox!' fails ^[a-z]+$ and breaks the run). Word stats:
    # fox freq2 deg4 -> 2.0; red freq2 deg3 -> 1.5; blue freq1
    # deg2 -> 2.0; deep/learning freq1 deg2 -> 2.0 each
    assert out["red fox"].score == 3.5 and out["red fox"].support == 1
    assert out["red"].score == 1.5
    assert out["blue fox"].score == 4.0 and out["blue fox"].support == 1
    assert out["deep learning"].score == 4.0
    assert out["a"].score if "a" in out else True  # stopword 'a' never a phrase
    assert "a" not in out
    # 'fox!' is not ^[a-z]+$: it breaks the run, so no 'fox fox' phrase
    assert all("!" not in p for p in out)
    # the 6-token run c..h exceeded max_phrase_len and dropped
    assert not any(p.startswith("c d e") for p in out)
    # multi-word phrases outscore singletons (RAKE's known bias)
    assert out["red fox"].score > max(
        r.score for p, r in out.items() if " " not in p
    )


def test_rake_keyphrases_multispace_breaks_runs(spark):
    """Consecutive whitespace breaks a phrase run (round-14 ADVICE):
    the single-space split leaves an empty/non-content token OCCUPYING
    a position, so 'alpha  beta' is two one-word phrases, never the
    two-word phrase — matching the oracle's split(' ') semantics."""
    from maston_spark.llm.text import rake_keyphrases

    df = spark.createDataFrame(
        [(1, "alpha  beta"), (2, "gamma\t\tdelta")], "doc_id long, text string"
    )
    out = {r.phrase for r in rake_keyphrases(df, "doc_id", "text", top_k=50).collect()}
    assert out == {"alpha", "beta"}  # tab-glued gamma\t\tdelta fails [a-z]+


def test_round9_numerators_exact_between_2_53_and_2_62():
    """``round(x, 9)`` numerators where x·10⁹ lies in [2⁵³, 2⁶²): a
    double no longer holds every integer there, so the float fast path
    is off by up to its ulp. They must equal Spark's HALF_UP on the
    shortest round-trip decimal string (the ``Decimal(repr(x))``
    reference) exactly."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from maston_spark.llm.similarity import _round9_numerators

    def ref(x):
        q = Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        return int(q * 1_000_000_000)

    rng = random.Random(9)
    xs = [9007199.254740993, 9876543.210123457, 3000000000.123457]
    xs += [rng.uniform(2.0**53, 2.0**62) / 1e9 for _ in range(297)]
    xs += [-x for x in xs[:50]]
    X = np.array(xs, dtype=np.float64).reshape(-1, 7)  # a (rows, dims) matrix
    got = _round9_numerators(X).reshape(-1)
    assert [int(v) for v in got] == [ref(float(x)) for x in X.reshape(-1)]
    assert [int(v) for v in _round9_numerators(np.array(xs[:3]))] == [
        9007199254740993, 9876543210123457, 3000000000123457000
    ]
