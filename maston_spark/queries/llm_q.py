"""LLM training-data pipeline queries over `documents`/`embeddings`,
each hash-checked against a DuckDB oracle built from the same
deterministic md5-based constructions.

The dedup queries self-exercise: the corpus is documents UNION a
deterministic set of (near-)duplicate mutations, so exact-dup groups
and LSH candidate pairs exist and recall is actually graded.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from maston_spark.llm import dedup as DD, similarity as SIM, text as TXT
from maston_spark.caching import scoped_persist
from maston_spark.queries import query
from maston_spark.session import load_table


def _dup_corpus(spark, sf_dir):
    """documents + exact copies of every 7th doc (id + 1000000)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


def _neardup_corpus(spark, sf_dir):
    """documents + near-dup mutations (3 tokens appended) of every 5th."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mut = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" xyz xyz xyz")).alias("text"),
    )
    return d.unionByName(mut)


@query(
    "q40_dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0)
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash,
           min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM corpus GROUP BY 1
    """,
)
def q40_dedup_exact(spark, sf_dir):
    """Exact dedup by normalized content hash: one shuffle on a
    uniform 128-bit key — the canonical 100 TB exact-dedup plan."""
    return DD.exact_dedup_groups(_dup_corpus(spark, sf_dir))


# The MinHash-LSH pipeline body (shingle -> 16-hash signature -> 4
# banded buckets -> candidate equi-join -> hashed-shingle Jaccard) as
# a reusable CTE chain: prepend a `corpus AS (id, text)` CTE, append a
# final SELECT over `jac (id_a, id_b, jaccard)`. Shared by q41 and the
# q171 source-duplication matrix so the two oracles can't drift.
_MINHASH_BODY = """toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
sh AS (
  SELECT id,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(1, len(t) - 1),
                               i -> array_to_string(t[i:i+2], ' '))
           ELSE [] END) AS sh
  FROM toks),
sh2 AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
hv AS (
  SELECT id, list_distinct(
           list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hv
  FROM sh2),
sig AS (
  SELECT id,
         list_transform(range(0, 16),
           s -> list_min(list_transform(hv,
                  h -> ((1664525 + 2*s) * h + 1013904223 + s) % 4294967311))) AS sig
  FROM hv),
buckets AS (
  SELECT id, b,
         md5(array_to_string(sig[(b*4+1):(b*4+4)], '|')) AS bucket
  FROM sig CROSS JOIN range(0, 4) r(b)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
jac AS (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(ha.hv, hb.hv))::DOUBLE
               / len(list_distinct(ha.hv || hb.hv)), 6) AS jaccard
  FROM cand c
  JOIN hv ha ON ha.id = c.id_a
  JOIN hv hb ON hb.id = c.id_b)"""

_MINHASH_ORACLE = """
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' xyz xyz xyz' FROM documents WHERE doc_id % 5 = 0),
""" + _MINHASH_BODY + """
SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.2
"""


@query(
    "q161_containment_neardup",
    oracle="""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000,
         array_to_string(string_split(text, ' ')[1:25], ' ')
  FROM documents WHERE doc_id % 6 = 0),
toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
sh AS (
  SELECT id,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(1, len(t) - 1),
                               i -> array_to_string(t[i:i+2], ' '))
           ELSE [] END) AS sh
  FROM toks),
sh2 AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
hv AS (
  SELECT id, list_distinct(
           list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hv
  FROM sh2),
lanes AS (SELECT id, unnest(hv) AS lane FROM hv),
rare AS (SELECT lane FROM lanes GROUP BY lane
         HAVING count(*) BETWEEN 2 AND 20),
rl AS (SELECT l.id, l.lane FROM lanes l JOIN rare USING (lane)),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM rl a JOIN rl b ON a.lane = b.lane AND a.id < b.id),
cont AS (
  SELECT c.id_a, c.id_b,
         round(len(list_intersect(ha.hv, hb.hv))::DOUBLE / len(ha.hv), 6)
           AS containment_a,
         round(len(list_intersect(ha.hv, hb.hv))::DOUBLE / len(hb.hv), 6)
           AS containment_b
  FROM cand c
  JOIN hv ha ON ha.id = c.id_a
  JOIN hv hb ON hb.id = c.id_b)
SELECT id_a, id_b, containment_a, containment_b
FROM cont WHERE greatest(containment_a, containment_b) >= 0.9
""",
)
def q161_containment_neardup(spark, sf_dir):
    """Containment near-dup detection (Broder 1997): the corpus gets
    PLANTED EXCERPTS — every 6th document's first 25 tokens as a new
    doc — whose Jaccard to the source is far below any LSH band's
    reach but whose containment is ~1.0. Candidates come from a
    rare-shingle inverted index (df ≤ 20 — boilerplate lanes
    dropped, fan-out bounded), then exact directional containment on
    the hashed-lane sets. The subset-duplication detector a
    quote/boilerplate-heavy corpus needs alongside q41's symmetric
    Jaccard. See
    :func:`maston_spark.llm.dedup.containment_from_lanes`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    excerpts = d.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, 25)
        ).alias("text"),
    )
    corpus = d.unionByName(excerpts)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.rare_shingle_candidates(mf, max_df=20)
    return DD.containment_from_lanes(mf, cands, threshold=0.9)


@query("q41_dedup_minhash_lsh", oracle=_MINHASH_ORACLE)
def q41_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH fuzzy dedup: shingle → 16-hash signature → 4
    banded buckets → equi-join candidates → exact-Jaccard verify.
    Never all-pairs: the only join key is the band bucket. The
    shingle frame is persisted and shared by all four consumers
    (both join sides of candidates + both sides of verify) — the
    cluster-scale pattern is writing the signature table once."""
    corpus = _neardup_corpus(spark, sf_dir)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    return DD.jaccard_from_lanes(mf, cands, threshold=0.2)


def _simhash_oracle() -> str:
    bit_sums = ",\n           ".join(
        f"sum(CASE WHEN substring(m, {b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    fp = " + ".join(f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(16))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, md5(tok) AS m FROM toks),
    bits AS (
      SELECT doc_id,
           {bit_sums}
      FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS INT) AS simhash FROM bits
    """


@query("q42_dedup_simhash", oracle=_simhash_oracle())
def q42_dedup_simhash(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return DD.simhash16(d).select("doc_id", "simhash")


@query(
    "q43_cosine_topk",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
    sims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, c.v) AS s
      FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, round(s, 6) AS sim, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, neighbor_id) AS rn
      FROM sims) WHERE rn <= 5
    """,
)
def q43_cosine_topk(spark, sf_dir):
    """Brute-force exact cosine top-5 for a 10-vector broadcast query
    set — the correctness baseline for ANN (one corpus scan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, query_ids=list(range(10)), k=5)


@query(
    "q44_lsh_ann",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    comp AS (
      SELECT p, d,
             CASE WHEN substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
                  THEN 1.0 ELSE -1.0 END AS w
      FROM range(0, 6) r1(p) CROSS JOIN range(0, 64) r2(d)),
    dots AS (
      SELECT c.vec_id, comp.p, sum(c.v[comp.d + 1] * comp.w) AS dp
      FROM c CROSS JOIN comp GROUP BY 1, 2),
    buck AS (
      SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN CAST(pow(2, p) AS INT) ELSE 0 END) AS INT) AS bucket
      FROM dots GROUP BY 1),
    cb AS (SELECT c.vec_id, c.v, b.bucket FROM c JOIN buck b USING (vec_id)),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM cb WHERE vec_id < 10),
    sims AS (
      SELECT q.query_id, cb.vec_id AS neighbor_id, cb.bucket,
             list_cosine_similarity(q.qv, cb.v) AS s
      FROM cb JOIN q USING (bucket) WHERE cb.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, bucket, round(s, 6) AS sim, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, neighbor_id) AS rn
      FROM sims) WHERE rn <= 3
    """,
)
def q44_lsh_ann(spark, sf_dir):
    """Sign-LSH bucketed ANN — the scale path: candidates come from a
    bucket equi-join (linear), exact cosine only within the bucket."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.lsh_topk(emb, query_ids=list(range(10)), k=3, n_planes=6, dims=64)


@query(
    "q45_text_stats",
    oracle="""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id,
           length(text) AS n_chars_computed,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks), 6)
             AS avg_token_len,
           round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                 / len(toks), 6) AS stopword_ratio,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS n_bpe_tokens
    FROM t
    """,
)
def q45_text_stats(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.text_stats(d).select(
        "doc_id",
        "n_chars_computed",
        "n_tokens",
        "n_distinct_tokens",
        "avg_token_len",
        "stopword_ratio",
        "n_bpe_tokens",
    )


def _langid_oracle() -> str:
    def score(lang):
        words = ", ".join(f"'{w}'" for w in sorted(set(TXT.STOPWORDS[lang])))
        return (
            f"len(list_filter(list_distinct(toks), x -> list_contains([{words}], x)))"
        )

    return f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 {score('de')} AS s_de, {score('en')} AS s_en,
                 {score('es')} AS s_es, {score('fr')} AS s_fr
          FROM t)
    SELECT doc_id, lang,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
                WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
                WHEN s_en >= s_de THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM s
    """


@query("q46_lang_id", oracle=_langid_oracle())
def q46_lang_id(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return TXT.lang_id(d).select("doc_id", "lang", "lang_pred")


@query(
    "q47_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def q47_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.fingerprint(d).select("doc_id", "fingerprint")


@query(
    "q48_embedding_neardup",
    oracle="""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(range(1, 65), i -> v[i] + 0.1 * v[(i % 64) + 1])
      FROM base WHERE vec_id % 10 = 0),
    comp AS (
      SELECT p, d,
             CASE WHEN substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
                  THEN 1.0 ELSE -1.0 END AS w
      FROM range(0, 14) r1(p) CROSS JOIN range(0, 64) r2(d)),
    dots AS (
      SELECT c.vec_id, comp.p, sum(c.v[comp.d + 1] * comp.w) AS dp
      FROM c CROSS JOIN comp GROUP BY 1, 2),
    buck AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN p < 6 AND dp > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS b0,
             CAST(sum(CASE WHEN p < 10 AND dp > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS b1,
             CAST(sum(CASE WHEN dp > 0 THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS b2
      FROM dots GROUP BY 1),
    cnt AS (
      SELECT vec_id, b0, b1, b2,
             count(*) OVER (PARTITION BY b0) AS c0,
             count(*) OVER (PARTITION BY b1) AS c1,
             count(*) OVER (PARTITION BY b2) AS c2
      FROM buck),
    asg AS (
      SELECT vec_id,
             CASE WHEN c0 <= 16 THEN 0 WHEN c1 <= 16 THEN 1 ELSE 2 END AS lvl,
             CASE WHEN c0 <= 16 THEN b0 WHEN c1 <= 16 THEN b1 ELSE b2 END AS bucket
      FROM cnt),
    cb AS (SELECT c.vec_id, c.v, a.lvl, a.bucket FROM c JOIN asg a USING (vec_id))
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.lvl, a.bucket,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM cb a JOIN cb b ON a.lvl = b.lvl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) >= 0.6
    """,
)
def q48_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup: sign-LSH bucketing with ADAPTIVE
    refinement (buckets over 16 rows re-hash at 10 then 14 planes —
    prefixes of one hyperplane table), then per-bucket pairwise numpy
    matmul — candidate work is sum(min(bucket, cap)^2) in the normal
    case, never corpus^2 and never an unbounded single-task matmul.
    The cap of 16 is deliberately below this dataset's hottest
    6-plane bucket so the refinement path is exercised and graded by
    the oracle, which re-derives the same level selection with window
    counts. Self-exercising corpus: every 10th vector gets a
    deterministically perturbed twin (cosine ≈0.95) so recall is
    actually graded."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> x + 0.1 * embedding[(i + 1) % 64])"
        ).alias("embedding"),
    )
    corpus = emb.unionByName(twins)
    return SIM.embedding_neardup(
        corpus, threshold=0.6, n_planes=6, dims=64, max_bucket_size=16
    )


def _q49_oracle_sql(n: int = 512, dim: int = 16) -> str:
    """Literal-rows golden oracle for q49.

    The media table and every kernel are deterministic and independent
    of ``sf_dir`` (synthesize_media seeds payloads from media_id), so
    the full expected result can be recomputed here by a pure-Python
    mirror of the kernels and embedded as a VALUES table the driver's
    DuckDB side executes verbatim — turning the former rows-only check
    into a value-hashed one.

    Mirror notes (must stay bit-exact vs the Spark path):
    - the float32 feature arithmetic reuses numpy exactly as
      multimodal.extract_features does;
    - ``F.aggregate(feature, 0.0D, a+x)`` folds left-to-right widening
      each float32 to double — mirrored by the ``acc`` loop;
    - Spark's ``round()`` on double is BigDecimal.valueOf(d) (shortest
      repr) + HALF_UP — mirrored by Decimal(repr(acc)).quantize.
    """
    import decimal as _dec
    import hashlib as _hl
    import zlib as _zl

    import numpy as _np

    kinds = ["image", "audio", "video"]
    rows = []
    for mid in range(n):
        raw = _hl.sha256(f"media-{mid}".encode()).digest() * (8 + mid % 5)
        payload = _zl.compress(raw)
        a = _np.frombuffer(raw, dtype=_np.uint8).astype(_np.float32)
        pad = (-len(a)) % dim
        if pad:
            a = _np.pad(a, (0, pad))
        feat = a.reshape(-1, dim).mean(axis=0) / 255.0
        acc = 0.0
        for v in feat:
            acc += float(v)
        fs = float(
            _dec.Decimal(repr(acc)).quantize(
                _dec.Decimal("1E-6"), rounding=_dec.ROUND_HALF_UP
            )
        )
        rows.append(
            f"({mid},'{kinds[mid % 3]}',{len(payload)},"
            f"'{_hl.sha256(payload).hexdigest()}',{fs!r})"
        )
    values = ",".join(rows)
    return f"""
    SELECT CAST(c0 AS BIGINT) AS media_id, c1 AS kind,
           CAST(c2 AS INTEGER) AS n_bytes, c3 AS content_hash,
           CAST(c4 AS DOUBLE) AS feature_sum
    FROM (VALUES {values}) AS t(c0, c1, c2, c3, c4)
    """


@query("q49_media_features", oracle=_q49_oracle_sql())
def q49_media_features(spark, sf_dir):
    """Multimodal plumbing: synthesize media (binary+metadata),
    hash JVM-side, decode/feature-extract via Arrow batches.
    Value-checked against a literal golden oracle (_q49_oracle_sql)."""
    from maston_spark.llm import multimodal as MM

    media = MM.with_content_hash(MM.synthesize_media(spark, n=512, partitions=8))
    feats = MM.extract_features(media, dim=16)
    from pyspark.sql import functions as F

    return feats.join(media.select("media_id", "content_hash"), "media_id").select(
        "media_id", "kind", "n_bytes", "content_hash",
        F.round(F.aggregate("feature", F.lit(0.0), lambda a, x: a + x), 6).alias(
            "feature_sum"
        ),
    )


def _q50_oracle_sql(n: int = 256, every_ms: int = 1000) -> str:
    """Literal-rows golden oracle for q50 — frame counts derive only
    from the deterministic metadata (duration_ms = 1000 + mid*7 for
    video rows, mid % 3 == 2), so expected rows are computed here."""
    rows = []
    for mid in range(n):
        if mid % 3 != 2:
            continue
        dur = 1000 + mid * 7
        n_frames = len(range(0, dur, every_ms))
        rows.append(f"({mid},{n_frames},{(n_frames - 1) * every_ms})")
    values = ",".join(rows)
    return f"""
    SELECT CAST(c0 AS BIGINT) AS media_id, CAST(c1 AS BIGINT) AS n_frames,
           CAST(c2 AS INTEGER) AS last_ts_ms
    FROM (VALUES {values}) AS t(c0, c1, c2)
    """


@query("q50_frame_sample", oracle=_q50_oracle_sql())
def q50_frame_sample(spark, sf_dir):
    """Video frame sampling: one row per sampled timestamp, emit
    count bounded by metadata duration. Value-checked against a
    literal golden oracle (_q50_oracle_sql)."""
    from maston_spark.llm import multimodal as MM

    media = MM.synthesize_media(spark, n=256, partitions=8)
    frames = MM.sample_frames(media, every_ms=1000)
    from pyspark.sql import functions as F

    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("ts_ms").alias("last_ts_ms"),
    )


@query(
    "q51_quality_score",
    oracle="""
    WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
    m AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(toks) AS n_tokens,
             round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                   / len(toks), 6) AS stopword_ratio,
             round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
                   / length(text), 6) AS punct_ratio,
             round(length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
                   / length(text), 6) AS upper_ratio
      FROM t)
    SELECT doc_id, n_chars, n_tokens, stopword_ratio, punct_ratio, upper_ratio,
           round(
             (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN punct_ratio < 0.2 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN stopword_ratio > 0.01 THEN 0.3 ELSE 0.0 END), 6
           ) AS quality_score
    FROM m
    """,
)
def q51_quality_score(spark, sf_dir):
    """Document quality scoring: length window + punctuation and
    stopword gates — the heuristic pre-filter of a training-data
    pipeline, all codegen column algebra."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.quality_score(d).select(
        "doc_id", "n_chars", "n_tokens", "stopword_ratio",
        "punct_ratio", "upper_ratio", "quality_score",
    )


@query(
    "q53_levenshtein_neardup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz' FROM documents WHERE doc_id % 11 = 0),
    uniq AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM corpus) WHERE rn = 1),
    b0 AS (SELECT doc_id, text, md5(substr(text, 1, 32)) AS bucket FROM uniq),
    keep AS (SELECT bucket FROM b0 GROUP BY bucket HAVING count(*) <= 64),
    b AS (SELECT b0.* FROM b0 JOIN keep USING (bucket))
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
           levenshtein(a.text, b2.text) AS edit_dist
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
    WHERE levenshtein(a.text, b2.text) <= 8
    """,
)
def q53_levenshtein_neardup(spark, sf_dir):
    """Edit-distance near-dup with prefix-hash bucketing: candidates
    share a 32-char-prefix bucket (equi-join, linear), expensive
    levenshtein runs only inside buckets.

    Scale guards (standard pipeline ordering): exact duplicates are
    removed FIRST (min doc id per content hash — edit distance on
    identical text is wasted quadratic work), and buckets larger
    than 64 members are dropped as boilerplate-prefix stop-buckets,
    bounding the in-bucket pair fan-out at 64² regardless of corpus
    size (the full-catalog 10x sweep caught the unguarded version
    going superlinear: 6.4 s → 107 s).
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tail = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" zz")).alias("text"),
    )
    corpus = d.unionByName(tail)
    w_h = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    uniq = (
        corpus.withColumn("__rn", F.row_number().over(w_h))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    b0 = uniq.withColumn("bucket", F.md5(F.substring("text", 1, 32)))
    keep = (
        b0.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= 64)
        .select("bucket")
    )
    # explicit-count repartition: AQE would coalesce this small
    # bucket shuffle to one partition, serializing the expensive
    # per-pair levenshtein work of the self-join that follows
    n_parts = spark.sparkContext.defaultParallelism
    b = b0.join(keep, "bucket").repartition(n_parts, F.col("bucket"))
    a2, b2 = b.alias("a"), b.alias("b")
    return (
        a2.join(
            b2,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.levenshtein(F.col("a.text"), F.col("b.text")).alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 8)
    )


@query(
    "q54_chargram_jaccard",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, lower(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lower(text || ' xyz') FROM documents WHERE doc_id % 9 = 0),
    uniq AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM corpus WHERE length(text) >= 8) WHERE rn = 1),
    g0 AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, length(text) - 3),
                                          i -> substr(text, i, 4))) AS grams,
             md5(substr(text, 1, 16)) AS bucket
      FROM uniq),
    keep AS (SELECT bucket FROM g0 GROUP BY bucket HAVING count(*) <= 256),
    b AS (SELECT g0.* FROM g0 JOIN keep USING (bucket))
    SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
           round(len(list_intersect(a.grams, b2.grams))::DOUBLE
                 / len(list_distinct(a.grams || b2.grams)), 6) AS jaccard
    FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
    WHERE round(len(list_intersect(a.grams, b2.grams))::DOUBLE
          / len(list_distinct(a.grams || b2.grams)), 6) >= 0.8
    """,
)
def q54_chargram_jaccard(spark, sf_dir):
    """Character-4-gram Jaccard near-dup, bucketed by the 16-char
    text prefix hash — the n-gram-family complement to word-shingle
    MinHash. Candidate generation is the bucket equi-join.

    Scale guards (the full-catalog 10x sweep caught the unguarded
    version at 77 s even at sf0.1): the original 4-char prefix put
    ~2% of the corpus in EVERY bucket — quadratic pair fan-out with
    a full gram-set intersection per pair. Now: exact duplicates
    removed first, a 16-char prefix (true near-dups still share it;
    random collisions mostly don't), and buckets larger than 256
    dropped as boilerplate stop-buckets — in-bucket fan-out bounded
    at 256² regardless of corpus size.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.lower(F.col("text")).alias("text")
    )
    tail = d.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lower(F.concat("text", F.lit(" xyz"))).alias("text"),
    )
    n_parts = spark.sparkContext.defaultParallelism
    corpus = (
        d.unionByName(tail)
        .filter(F.length("text") >= 8)
        # explicit-count repartition feeding the dedup window: AQE
        # would coalesce the window exchange to one partition and
        # serialize the gram-set construction that follows
        .repartition(n_parts, F.md5("text"))
    )
    w_h = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    uniq = (
        corpus.withColumn("__rn", F.row_number().over(w_h))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    g0 = uniq.select(
        "doc_id",
        F.array_distinct(
            F.expr("transform(sequence(1, length(text) - 4), i -> substring(text, i, 4))")
        ).alias("grams"),
        F.md5(F.substring("text", 1, 16)).alias("bucket"),
    )
    keep = (
        g0.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= 256)
        .select("bucket")
    )
    # same AQE-coalesce guard for the self-join: the per-pair
    # gram-set intersection must stay parallel
    g = g0.join(keep, "bucket").repartition(n_parts, F.col("bucket"))
    a2, b2 = g.alias("a"), g.alias("b")
    inter = F.size(F.array_intersect(F.col("a.grams"), F.col("b.grams")))
    union = F.size(F.array_union(F.col("a.grams"), F.col("b.grams")))
    return (
        a2.join(
            b2,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


@query(
    "q166_dedup_threshold_sweep",
    oracle="""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' xyz xyz xyz' FROM documents WHERE doc_id % 5 = 0),
toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
sh AS (
  SELECT id,
         list_distinct(CASE WHEN len(t) >= 3
           THEN list_transform(range(1, len(t) - 1),
                               i -> array_to_string(t[i:i+2], ' '))
           ELSE [] END) AS sh
  FROM toks),
sh2 AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
hv AS (
  SELECT id, list_distinct(
           list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hv
  FROM sh2),
sig AS (
  SELECT id,
         list_transform(range(0, 16),
           s -> list_min(list_transform(hv,
                  h -> ((1664525 + 2*s) * h + 1013904223 + s) % 4294967311))) AS sig
  FROM hv),
buckets AS (
  SELECT id, b,
         md5(array_to_string(sig[(b*4+1):(b*4+4)], '|')) AS bucket
  FROM sig CROSS JOIN range(0, 4) r(b)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM buckets a JOIN buckets b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
jac AS (
  SELECT c.id_a, c.id_b,
         CAST(round(round(len(list_intersect(ha.hv, hb.hv))::DOUBLE
               / len(list_distinct(ha.hv || hb.hv)), 6) * 1000000)
              AS BIGINT) AS jint
  FROM cand c
  JOIN hv ha ON ha.id = c.id_a
  JOIN hv hb ON hb.id = c.id_b),
planted AS (SELECT count(*) AS np FROM corpus WHERE id >= 1000000),
pair_hist AS (
  SELECT least(9, jint // 100000) AS b, count(*) AS n FROM jac GROUP BY 1),
doc_max AS (SELECT id_b, max(jint) AS mj FROM jac GROUP BY 1),
doc_hist AS (
  SELECT least(9, mj // 100000) AS b, count(*) AS n,
         sum(CASE WHEN id_b >= 1000000 THEN 1 ELSE 0 END) AS npl
  FROM doc_max GROUP BY 1),
grid AS (SELECT unnest(range(1, 10)) AS t),
sw AS (
  SELECT g.t,
         (SELECT coalesce(sum(n), 0) FROM pair_hist WHERE b >= g.t)
           AS n_pairs,
         (SELECT coalesce(sum(n), 0) FROM doc_hist WHERE b >= g.t)
           AS n_flagged_docs,
         (SELECT coalesce(sum(npl), 0) FROM doc_hist WHERE b >= g.t)
           AS n_planted_flagged
  FROM grid g)
SELECT round(t / 10.0, 1) AS threshold,
       CAST(n_pairs AS BIGINT) AS n_pairs,
       CAST(n_flagged_docs AS BIGINT) AS n_flagged_docs,
       CAST(n_planted_flagged AS BIGINT) AS n_planted_flagged,
       round(n_planted_flagged::DOUBLE / planted.np, 6) AS planted_recall
FROM sw, planted ORDER BY threshold
    """,
)
def q166_dedup_threshold_sweep(spark, sf_dir):
    """Dedup-threshold tuning curve: pairs kept, docs flagged, and
    planted-near-dup recall at each of 9 Jaccard thresholds — the
    knob-selection report an operator reads before fixing the
    production threshold (q152 is the single-threshold effectiveness
    report; this is its tuning sweep).

    Distributed shape: the verified pair table is computed ONCE;
    everything threshold-dependent reduces to two tiny histograms —
    pairs per Jaccard bucket, and docs per max-Jaccard bucket (one
    combiner agg each, integer buckets so bucketing is exact
    cross-engine) — and the 9-row sweep is a reverse-cumulative over
    ≤10 histogram rows. No per-threshold scan, no countDistinct
    expand, nothing corpus-sized moves more than once.
    """
    corpus = _neardup_corpus(spark, sf_dir)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    pairs = DD.jaccard_from_lanes(mf, cands, threshold=0.0).select(
        "id_b",
        F.round(F.round("jaccard", 6) * 1000000)
        .cast("long")
        .alias("__jint"),
    )
    planted = corpus.filter(F.col("doc_id") >= 1000000).agg(
        F.count(F.lit(1)).alias("__np")
    )
    bucket = F.least(F.lit(9), F.floor(F.col("__jint") / 100000)).alias("__b")
    pair_hist = pairs.groupBy(bucket).agg(F.count(F.lit(1)).alias("__n"))
    doc_hist = (
        pairs.groupBy("id_b")
        .agg(F.max("__jint").alias("__jint"))
        .groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("__nd"),
            F.sum(
                F.when(F.col("id_b") >= 1000000, 1).otherwise(0)
            ).alias("__npl"),
        )
    )
    grid = spark.range(1, 10).select(F.col("id").alias("__t"))
    sw = (
        grid.join(F.broadcast(pair_hist), F.col("__b") >= F.col("__t"), "left")
        .groupBy("__t")
        .agg(F.coalesce(F.sum("__n"), F.lit(0)).alias("n_pairs"))
        .join(
            grid.join(
                F.broadcast(doc_hist), F.col("__b") >= F.col("__t"), "left"
            )
            .groupBy("__t")
            .agg(
                F.coalesce(F.sum("__nd"), F.lit(0)).alias("n_flagged_docs"),
                F.coalesce(F.sum("__npl"), F.lit(0)).alias(
                    "n_planted_flagged"
                ),
            ),
            "__t",
        )
    )
    return (
        sw.join(F.broadcast(planted))
        .select(
            F.round(F.col("__t") / 10.0, 1).alias("threshold"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("n_flagged_docs").cast("long").alias("n_flagged_docs"),
            F.col("n_planted_flagged").cast("long").alias(
                "n_planted_flagged"
            ),
            F.round(
                F.col("n_planted_flagged") / F.col("__np"), 6
            ).alias("planted_recall"),
        )
        .orderBy("threshold")
    )


@query(
    "q164_cluster_safe_split",
    oracle="""
    WITH RECURSIVE corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' xyz xyz xyz' FROM documents WHERE doc_id % 5 = 0),
    toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
    sh AS (
      SELECT id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS sh
      FROM toks),
    sh2 AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
    hv AS (
      SELECT id, list_distinct(
               list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hv
      FROM sh2),
    sig AS (
      SELECT id,
             list_transform(range(0, 16),
               s -> list_min(list_transform(hv,
                      h -> ((1664525 + 2*s) * h + 1013904223 + s) % 4294967311))) AS sig
      FROM hv),
    buckets AS (
      SELECT id, b,
             md5(array_to_string(sig[(b*4+1):(b*4+4)], '|')) AS bucket
      FROM sig CROSS JOIN range(0, 4) r(b)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
    jac AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN hv ha ON ha.id = c.id_a
      JOIN hv hb ON hb.id = c.id_b
      WHERE round(len(list_intersect(ha.hv, hb.hv))::DOUBLE
                  / len(list_distinct(ha.hv || hb.hv)), 6) >= 0.2),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM jac
      UNION SELECT id_b, id_a FROM jac),
    reach AS (
      SELECT id, id AS r FROM corpus
      UNION
      SELECT s.b AS id, reach.r FROM reach JOIN sym s ON s.a = reach.id),
    comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id)
    SELECT id, cluster,
           CASE WHEN ('0x' || substr(md5('split:' || cluster), 1, 8))::BIGINT % 1000 < 800
                THEN 'train'
                WHEN ('0x' || substr(md5('split:' || cluster), 1, 8))::BIGINT % 1000 < 900
                THEN 'val'
                ELSE 'test' END AS split
    FROM comp
    """,
)
def q164_cluster_safe_split(spark, sf_dir):
    """Leakage-safe splitting: the q55 near-dup clusters are assigned
    to train/val/test as a UNIT (split = hash of the cluster label,
    not the doc id), so planted near-duplicates can never straddle
    splits — the constructive counterpart of the q126 leakage audit.
    See :func:`maston_spark.llm.sampling.cluster_safe_split`."""
    from maston_spark.llm import sampling as SAMP

    corpus = _neardup_corpus(spark, sf_dir)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    edges = DD.jaccard_from_lanes(mf, cands, threshold=0.2)
    verts = corpus.select(F.col("doc_id").alias("id"))
    return SAMP.cluster_safe_split(verts, edges)


@query(
    "q55_dup_clusters",
    oracle="""
    WITH RECURSIVE corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' xyz xyz xyz' FROM documents WHERE doc_id % 5 = 0),
    toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
    sh AS (
      SELECT id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS sh
      FROM toks),
    sh2 AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
    hv AS (
      SELECT id, list_distinct(
               list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hv
      FROM sh2),
    sig AS (
      SELECT id,
             list_transform(range(0, 16),
               s -> list_min(list_transform(hv,
                      h -> ((1664525 + 2*s) * h + 1013904223 + s) % 4294967311))) AS sig
      FROM hv),
    buckets AS (
      SELECT id, b,
             md5(array_to_string(sig[(b*4+1):(b*4+4)], '|')) AS bucket
      FROM sig CROSS JOIN range(0, 4) r(b)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
    jac AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN hv ha ON ha.id = c.id_a
      JOIN hv hb ON hb.id = c.id_b
      WHERE round(len(list_intersect(ha.hv, hb.hv))::DOUBLE
                  / len(list_distinct(ha.hv || hb.hv)), 6) >= 0.2),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM jac
      UNION SELECT id_b, id_a FROM jac),
    reach AS (
      SELECT id, id AS r FROM corpus
      UNION
      SELECT s.b AS id, reach.r FROM reach JOIN sym s ON s.a = reach.id)
    SELECT id, min(r) AS cluster FROM reach GROUP BY id
    """,
)
def q55_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS (not just pairs): MinHash-LSH candidates →
    Jaccard-verified edges → connected components by iterative
    min-label propagation. The step a real dedup pipeline runs before
    choosing one keeper per cluster."""
    corpus = _neardup_corpus(spark, sf_dir)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    edges = DD.jaccard_from_lanes(mf, cands, threshold=0.2)
    verts = corpus.select(F.col("doc_id").alias("id"))
    return DD.connected_components(verts, edges)


@query(
    "q57_ivf_ann",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT CAST(vec_id - 100 AS INT) AS cid, v AS cv
             FROM c WHERE vec_id >= 100 AND vec_id < 108),
    asgn AS (
      SELECT c.vec_id, c.v, cent.cid,
             row_number() OVER (PARTITION BY c.vec_id
               ORDER BY list_cosine_similarity(c.v, cent.cv) DESC, cent.cid) AS rn
      FROM c CROSS JOIN cent),
    cells AS (SELECT vec_id, v, cid AS cell FROM asgn WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
    pr AS (
      SELECT q.query_id, q.qv, cent.cid,
             row_number() OVER (PARTITION BY q.query_id
               ORDER BY list_cosine_similarity(q.qv, cent.cv) DESC, cent.cid) AS prn
      FROM q CROSS JOIN cent),
    probes AS (SELECT query_id, qv, cid AS cell FROM pr WHERE prn <= 2),
    sims AS (
      SELECT p.query_id, ce.vec_id AS neighbor_id, ce.cell,
             list_cosine_similarity(p.qv, ce.v) AS s
      FROM probes p JOIN cells ce USING (cell)
      WHERE ce.vec_id <> p.query_id)
    SELECT query_id, neighbor_id, cell, round(s, 6) AS sim, rn FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, neighbor_id) AS rn
      FROM sims) WHERE rn <= 3
    """,
)
def q57_ivf_ann(spark, sf_dir):
    """IVF-partitioned ANN: coarse-quantize the corpus into cells,
    probe the query's 2 nearest cells, exact cosine only within —
    the partition-pruning ANN scale path (vs q44's sign-LSH)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ivf_topk(
        emb, query_ids=list(range(10)), k=3, n_centroids=8, nprobe=2
    )


@query(
    "q58_hash_split",
    oracle="""
    SELECT doc_id, lang,
           CAST(('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 1000 AS INT)
             AS bucket,
           CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 1000 < 800
                THEN 'train'
                WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 1000 < 900
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q58_hash_split(spark, sf_dir):
    """Reproducible train/val/test assignment: membership is a pure
    function of (salt, doc_id) — identical on any engine, cluster
    size, or rerun, unlike seeded df.sample(). One codegen
    projection, no shuffle."""
    from maston_spark.llm import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return SAMP.split_assign(d, weights={"train": 0.8, "val": 0.1, "test": 0.1}).select(
        "doc_id", "lang", SAMP.hash_bucket("doc_id", "split").alias("bucket"), "split"
    )


@query(
    "q59_source_mix",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE ('0x' || substr(md5('mix:' || doc_id), 1, 8))::BIGINT % 1000
          < CASE WHEN source = 'src0' THEN 1000
                 WHEN source = 'src1' THEN 500
                 ELSE 250 END
    """,
)
def q59_source_mix(spark, sf_dir):
    """Weighted corpus mixing (the pretraining data-recipe knob):
    keep a deterministic per-source fraction — src0 fully, src1 at
    50%, everything else at 25%. Pure filter on the scan."""
    from maston_spark.llm import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return SAMP.mix_sources(d, rates={"src0": 1.0, "src1": 0.5}, default_rate=0.25)


@query(
    "q74_repetition_stats",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM t WHERE len(toks) >= 2),
    c AS (SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           CAST(max(cnt) AS BIGINT) AS top_bigram_count,
           round(max(cnt)::DOUBLE / sum(cnt), 6) AS top_bigram_frac,
           round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE / sum(cnt), 6)
             AS dup_bigram_frac
    FROM c GROUP BY doc_id
    """,
)
def q74_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters: top-2-gram and duplicated-
    2-gram occurrence fractions per document (boilerplate/spam
    signal). Explode → two map-side-combinable hash aggs; see
    :func:`maston_spark.llm.text.repetition_stats`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.repetition_stats(d)


def _pii_corpus(spark, sf_dir):
    """documents with deterministic PII-ish spans appended to every
    11th doc, so the scrub actually exercises all three patterns."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 or +33612345"),
        (F.col("doc_id") % 1000).cast("string"),
    )
    return d.withColumn(
        "text", F.when(F.col("doc_id") % 11 == 0, injected).otherwise(F.col("text"))
    )


@query(
    "q75_pii_scrub",
    oracle=r"""
    WITH c AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0
                  THEN text || ' contact user' || doc_id || '@example.com from 10.0.'
                       || (doc_id % 256) || '.7 or +33612345' || (doc_id % 1000)
                  ELSE text END AS text
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             AS n_email,
           len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
             AS n_ipv4,
           len(regexp_extract_all(text, '\+\d{7,15}')) AS n_phone,
           md5(regexp_replace(
                 regexp_replace(
                   regexp_replace(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IPV4>', 'g'),
                 '\+\d{7,15}', '<PHONE>', 'g')) AS scrub_md5
    FROM c
    """,
)
def q75_pii_scrub(spark, sf_dir):
    """PII count + redaction over a corpus with deterministic
    injected spans; output the per-pattern counts and an md5 of the
    scrubbed text (cross-engine-stable witness of the redaction).
    See :func:`maston_spark.llm.text.pii_scrub`."""
    d = _pii_corpus(spark, sf_dir)
    return TXT.pii_scrub(d).select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5("text_scrubbed").alias("scrub_md5"),
    )


@query(
    "q76_pack_sequences",
    oracle="""
    SELECT doc_id, n_chars,
           CAST(doc_id % 8 AS INTEGER) AS shard,
           CAST(floor((sum(n_chars) OVER w - n_chars) / 2048) AS BIGINT) AS pack_id,
           CAST((sum(n_chars) OVER w - n_chars) % 2048 AS BIGINT) AS pack_offset
    FROM documents
    WINDOW w AS (PARTITION BY doc_id % 8 ORDER BY doc_id)
    """,
)
def q76_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing of documents into 2048-char context
    windows, shard-local (8 shards) so the running total stays
    parallel at scale. See
    :func:`maston_spark.llm.sampling.pack_sequences`."""
    from maston_spark.llm import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return SAMP.pack_sequences(d, capacity=2048, size_col="n_chars", n_shards=8)


@query(
    "q77_contamination",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
            i -> array_to_string(toks[i:i+2], ' '))) AS gram
          FROM t WHERE len(toks) >= 3),
    dg AS (SELECT DISTINCT doc_id, gram FROM g),
    bench AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
    corpus AS (SELECT * FROM dg WHERE doc_id % 97 <> 0)
    SELECT c.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS contamination_frac
    FROM corpus c LEFT JOIN bench b USING (gram)
    GROUP BY c.doc_id
    """,
)
def q77_contamination(spark, sf_dir):
    """Benchmark-contamination scan: fraction of each corpus doc's
    distinct 3-gram windows that appear in a held-out eval set
    (docs with doc_id % 97 == 0). Real pipelines use 8-13-grams;
    n=3 here because the synthetic corpus has no natural long-range
    overlap, and the operator is n-parametric either way. See
    :func:`maston_spark.llm.text.contamination_check`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return TXT.contamination_check(corpus, bench, n=3)


@query(
    "q78_top_ngrams",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
    g AS (SELECT unnest(list_transform(range(1, len(toks)),
            i -> array_to_string(toks[i:i+1], ' '))) AS gram
          FROM t WHERE len(toks) >= 2)
    SELECT gram, count(*) AS n_occurrences
    FROM g GROUP BY gram
    ORDER BY n_occurrences DESC, gram ASC
    LIMIT 100
    """,
)
def q78_top_ngrams(spark, sf_dir):
    """Corpus-wide top-100 bigrams by occurrence (vocab/boilerplate
    discovery). Executes as map-side-combined hash agg + per-partition
    top-k merge (TakeOrderedAndProject) — only k rows cross the final
    stage. See :func:`maston_spark.llm.text.top_ngrams`."""
    d = load_table(spark, sf_dir, "documents").select("text")
    return TXT.top_ngrams(d, n=2, k=100)


@query(
    "q83_quantize_embeddings",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings),
    s AS (
      SELECT vec_id, e,
             CASE WHEN amax > 0 THEN amax / 127.0 END AS q_scale
      FROM v),
    q AS (
      SELECT vec_id, q_scale,
             list_transform(e, x -> CAST(round(x / q_scale) AS INTEGER)) AS qv,
             list_max(list_transform(
               list_zip(e, list_transform(e, x -> round(x / q_scale))),
               p -> abs(p[1] - p[2] * q_scale))) AS err
      FROM s)
    SELECT vec_id,
           round(q_scale, 9) AS q_scale_r,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           CAST(list_min(qv) AS INTEGER) AS q_min,
           CAST(list_max(qv) AS INTEGER) AS q_max,
           round(err, 9) AS q_err_r
    FROM q
    """,
)
def q83_quantize_embeddings(spark, sf_dir):
    """Int8 absmax quantization over the embeddings table; output the
    per-vector scale, quantized-value stats, and max reconstruction
    error. See :func:`maston_spark.llm.similarity.quantize_embeddings`
    (one codegen projection, scan-speed at any scale)."""
    from maston_spark.llm.similarity import quantize_embeddings

    d = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = quantize_embeddings(d)
    return out.select(
        "vec_id",
        F.round(F.col("q_scale"), 9).alias("q_scale_r"),
        F.aggregate(
            F.col("q_vec"), F.lit(0).cast("bigint"), lambda a, x: a + x
        ).alias("q_sum"),
        F.array_min("q_vec").alias("q_min"),
        F.array_max("q_vec").alias("q_max"),
        F.round(F.col("q_max_abs_err"), 9).alias("q_err_r"),
    )


@query(
    "q88_domain_cap",
    oracle="""
    WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks
               FROM documents),
    m AS (
      SELECT doc_id, source,
             len(toks) AS n_tokens,
             round(len(list_filter(toks, x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                   / len(toks), 6) AS stopword_ratio,
             round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
                   / length(text), 6) AS punct_ratio
      FROM t),
    s AS (
      SELECT doc_id, source,
             round(
               (CASE WHEN n_tokens BETWEEN 20 AND 10000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN punct_ratio < 0.2 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN stopword_ratio > 0.01 THEN 0.3 ELSE 0.0 END), 6
             ) AS quality_score
      FROM m),
    r AS (
      SELECT doc_id, source, quality_score,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality_score DESC, doc_id) AS domain_rank
      FROM s)
    SELECT doc_id, source, quality_score, CAST(domain_rank AS BIGINT) AS domain_rank
    FROM r WHERE domain_rank <= 25
    """,
)
def q88_domain_cap(spark, sf_dir):
    """Per-domain quota sampling: score every document, keep each
    source's top 25 by quality (deterministic doc_id tie-break) —
    the anti-domination curation step of a web-scale corpus. See
    :func:`maston_spark.llm.sampling.domain_cap` for the
    local-prune-then-one-shuffle scale shape."""
    from maston_spark.llm import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = TXT.quality_score(d).select("doc_id", "source", "quality_score")
    return SAMP.domain_cap(
        scored, domain_col="source", order_col="quality_score", cap=25
    ).select("doc_id", "source", "quality_score", "domain_rank")


@query(
    "q89_corpus_freq",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i+1])) AS bigram
           FROM t WHERE len(toks) >= 2),
    doc_bg AS (
      SELECT doc_id, bigram, count(*) AS m FROM bg GROUP BY 1, 2),
    corpus AS (
      SELECT bigram, sum(m) AS cf FROM doc_bg GROUP BY 1)
    SELECT doc_id,
           CAST(sum(m) AS BIGINT) AS n_bigrams,
           CAST(sum(m * cf) AS BIGINT) AS sum_corpus_freq,
           round(sum(m * cf) / sum(m), 6) AS avg_corpus_freq,
           CAST(sum(CASE WHEN cf = 1 THEN m ELSE 0 END) AS BIGINT) AS n_hapax
    FROM doc_bg JOIN corpus USING (bigram)
    GROUP BY doc_id
    """,
)
def q89_corpus_freq(spark, sf_dir):
    """Corpus-frequency document scoring (the integer-exact analogue
    of a KenLM perplexity filter): per doc, mean corpus frequency of
    its bigrams plus its hapax count — rare-ngram documents are the
    gibberish candidates. See
    :func:`maston_spark.llm.text.corpus_frequency_score`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.corpus_frequency_score(d)


@query(
    "q90_winnow_fingerprints",
    oracle="""
    WITH t AS (SELECT doc_id,
                      lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
               FROM documents),
    g AS (SELECT doc_id,
                 list_transform(range(1, length(norm) - 8 + 2),
                   i -> ('0x' || substr(md5(substring(norm, i, 8)), 1, 8))::BIGINT)
                 AS hs
          FROM t WHERE length(norm) >= 8),
    m AS (SELECT doc_id,
                 list_sort(list_distinct(
                   list_transform(range(1, len(hs) - 4 + 2),
                     j -> list_min(list_slice(hs, j, j + 3))))) AS fps
          FROM g WHERE len(hs) >= 4)
    SELECT doc_id, unnest(fps) AS fingerprint FROM m
    """,
)
def q90_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints (MOSS-style local document
    fingerprinting): k-gram hash minima over sliding windows — the
    rolling-hash fingerprint family, guaranteeing shared prints for
    any sufficiently long match. See
    :func:`maston_spark.llm.text.winnow_fingerprints`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.winnow_fingerprints(d, k=8, window=4)


@query(
    "q91_dedup_keepers",
    oracle="""
    WITH RECURSIVE corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' xyz xyz xyz' FROM documents WHERE doc_id % 5 = 0),
    toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
    sh AS (
      SELECT id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS sh
      FROM toks),
    sh2 AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
    hv AS (
      SELECT id, list_distinct(
               list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hv
      FROM sh2),
    sig AS (
      SELECT id,
             list_transform(range(0, 16),
               s -> list_min(list_transform(hv,
                      h -> ((1664525 + 2*s) * h + 1013904223 + s) % 4294967311))) AS sig
      FROM hv),
    buckets AS (
      SELECT id, b,
             md5(array_to_string(sig[(b*4+1):(b*4+4)], '|')) AS bucket
      FROM sig CROSS JOIN range(0, 4) r(b)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
    jac AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN hv ha ON ha.id = c.id_a
      JOIN hv hb ON hb.id = c.id_b
      WHERE round(len(list_intersect(ha.hv, hb.hv))::DOUBLE
                  / len(list_distinct(ha.hv || hb.hv)), 6) >= 0.2),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM jac
      UNION SELECT id_b, id_a FROM jac),
    reach AS (
      SELECT id, id AS r FROM corpus
      UNION
      SELECT s.b AS id, reach.r FROM reach JOIN sym s ON s.a = reach.id),
    clusters AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
    ranked AS (
      SELECT cl.cluster, cl.id, length(c.text) AS n_chars,
             row_number() OVER (PARTITION BY cl.cluster
                                ORDER BY length(c.text) DESC, cl.id) AS rn
      FROM clusters cl JOIN corpus c ON c.id = cl.id)
    SELECT cluster,
           CAST(max(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM ranked GROUP BY cluster
    """,
)
def q91_dedup_keepers(spark, sf_dir):
    """The LAST step of a dedup pipeline: per duplicate cluster,
    choose ONE keeper (longest document wins — keep the most complete
    version — deterministic id tie-break) and count what gets
    dropped. Composition of the cluster operator
    (:func:`maston_spark.llm.dedup.connected_components`) with a
    per-cluster ranking window: one extra shuffle on the cluster id
    over slim (id, cluster, n_chars) rows."""
    from pyspark.sql import Window

    corpus = _neardup_corpus(spark, sf_dir)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    edges = DD.jaccard_from_lanes(mf, cands, threshold=0.2)
    verts = corpus.select(F.col("doc_id").alias("id"))
    clusters = DD.connected_components(verts, edges)
    sized = clusters.join(
        corpus.select(F.col("doc_id").alias("id"), F.length("text").alias("__nc")),
        "id",
    )
    w = Window.partitionBy("cluster").orderBy(F.col("__nc").desc(), F.col("id"))
    ranked = sized.withColumn("__rn", F.row_number().over(w))
    return ranked.groupBy("cluster").agg(
        F.max(F.when(F.col("__rn") == 1, F.col("id"))).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


@query(
    "q93_winnow_neardup",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' xyz xyz xyz' FROM documents WHERE doc_id % 5 = 0),
    t AS (SELECT doc_id,
                 lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
          FROM corpus),
    g AS (SELECT doc_id,
                 list_transform(range(1, length(norm) - 8 + 2),
                   i -> ('0x' || substr(md5(substring(norm, i, 8)), 1, 8))::BIGINT)
                 AS hs
          FROM t WHERE length(norm) >= 8),
    m AS (SELECT doc_id,
                 list_distinct(
                   list_transform(range(1, len(hs) - 4 + 2),
                     j -> list_min(list_slice(hs, j, j + 3)))) AS fps
          FROM g WHERE len(hs) >= 4),
    fp AS (SELECT doc_id, unnest(fps) AS fingerprint FROM m),
    freq AS (SELECT fingerprint FROM fp GROUP BY 1 HAVING count(*) <= 64),
    rare AS (SELECT fp.doc_id, fp.fingerprint FROM fp JOIN freq USING (fingerprint))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM rare a JOIN rare b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 20
    """,
)
def q93_winnow_neardup(spark, sf_dir):
    """MOSS-style near-dup candidates: pairs sharing >= 20 winnowing
    fingerprints, with boilerplate stop-prints (doc frequency > 64)
    dropped first so the fingerprint self-join fan-out stays bounded.
    The sixth near-dup family (local-fingerprint based), completing
    exact/minhash/simhash/chargram/embedding. See
    :func:`maston_spark.llm.text.winnow_neardup_pairs`."""
    corpus = _neardup_corpus(spark, sf_dir)
    return TXT.winnow_neardup_pairs(
        corpus, k=8, window=4, max_doc_freq=64, min_shared=20
    )


_SEMDEDUP_ORACLE = """
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (
      SELECT vec_id, v FROM base
      UNION ALL
      SELECT vec_id + 1000000,
             list_transform(range(1, 65), i -> v[i] + 0.1 * v[(i % 64) + 1])
      FROM base WHERE vec_id % 10 = 0),
    e AS (SELECT vec_id AS id,
                 list_transform(v, x -> round(x / sqrt(
                   round(list_sum(list_transform(v, y -> y * y)), 9)), 9)) AS nv
          FROM c),
    seeds AS (SELECT id, nv, row_number() OVER (ORDER BY id) AS rn FROM e),
    kc0 AS (SELECT CAST(rn AS INT) AS cid, nv AS cv FROM seeds
            WHERE rn <= (SELECT greatest(1, ceil(count(*) / 64.0)) FROM c)),
    kp1 AS (SELECT e.id, e.nv, kc0.cid,
                   round(list_sum(list_transform(range(1, len(e.nv) + 1),
                         i -> (e.nv[i] - kc0.cv[i]) * (e.nv[i] - kc0.cv[i]))), 9)
                     AS d
            FROM e, kc0),
    ka1 AS (SELECT id, nv, cid FROM (
              SELECT *, row_number() OVER (PARTITION BY id
                                           ORDER BY d, cid) AS rn
              FROM kp1) WHERE rn = 1),
    kdims AS (SELECT cid, i - 1 AS dim, nv[i] AS x
              FROM ka1, LATERAL (SELECT unnest(range(1, len(nv) + 1)) AS i) t),
    kupd AS (SELECT cid, dim,
                    round(CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9)))
                          AS DOUBLE) / count(*), 9) AS mval
             FROM kdims GROUP BY 1, 2),
    kc1 AS (SELECT cid, list(mval ORDER BY dim) AS cv FROM kupd GROUP BY cid),
    kp2 AS (SELECT e.id, e.nv, kc1.cid,
                   round(list_sum(list_transform(range(1, len(e.nv) + 1),
                         i -> (e.nv[i] - kc1.cv[i]) * (e.nv[i] - kc1.cv[i]))), 9)
                     AS d
            FROM e, kc1),
    cells AS (SELECT id AS vec_id, nv AS v, cid AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY id
                                             ORDER BY d, cid) AS rn
                FROM kp2) WHERE rn = 1),
    ev AS (
      SELECT a.vec_id, min(b.vec_id) AS evicted_by
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND b.vec_id < a.vec_id
       AND list_cosine_similarity(a.v, b.v) >= 0.9
      GROUP BY 1)
    SELECT c2.vec_id, c2.cell,
           (e2.evicted_by IS NULL) AS kept,
           e2.evicted_by
    FROM cells c2 LEFT JOIN ev e2 ON e2.vec_id = c2.vec_id
    """


@query(
    "q94_semantic_dedup",
    oracle=_SEMDEDUP_ORACLE,
)
def q94_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication: quantize normalized
    embeddings into CORPUS-SCALED Lloyd-trained cells
    (K = ceil(n / target_cell_rows)), drop every vector with a
    smaller-id near-identical neighbor (cosine >= 0.9) in its cell.
    The corpus self-exercises with deterministic perturbed twins
    (cos ~0.95) so eviction actually fires and recall is graded. See
    :func:`maston_spark.llm.similarity.semantic_dedup`."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> x + 0.1 * embedding[(i + 1) % 64])"
        ).alias("embedding"),
    )
    corpus = emb.unionByName(twins)
    return SIM.semantic_dedup(corpus, threshold=0.9, target_cell_rows=64)

@query(
    "q162_semantic_dedup_q",
    oracle=_SEMDEDUP_ORACLE,
)
def q162_semantic_dedup_q(spark, sf_dir):
    """SemDeDup with the INT8-QUANTIZED prefix: identical corpus,
    identical keep-one rule, identical oracle as q94 — but the
    per-task prefix is int8 + an exact-confirm join (6x residency
    cut; the int8 screen is a Cauchy-Schwarz-sound superset). Two
    independent engine paths against one oracle. See
    :func:`maston_spark.llm.similarity.semantic_dedup_quantized`."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> x + 0.1 * embedding[(i + 1) % 64])"
        ).alias("embedding"),
    )
    corpus = emb.unionByName(twins)
    return SIM.semantic_dedup_quantized(
        corpus, threshold=0.9, target_cell_rows=64
    )


@query(
    "q95_exact_substring",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t),
    g AS (SELECT doc_id, toks, unnest(range(0, n_tokens - 4)) AS s
          FROM base WHERE n_tokens >= 5),
    grams AS (SELECT doc_id, s, array_to_string(toks[s+1:s+5], ' ') AS gram FROM g),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    ds AS (SELECT doc_id, s FROM grams JOIN dup USING (gram)),
    cov AS (SELECT doc_id, s,
                   max(s + 4) OVER (PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
            FROM ds),
    agg AS (SELECT doc_id, count(*) AS n_dup_grams,
                   sum(greatest(0, (s + 4) - greatest(s - 1, coalesce(prev_end, -1))))
                     AS n_dup_tokens
            FROM cov GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
           CAST(coalesce(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
           round(coalesce(a.n_dup_tokens, 0) / b.n_tokens, 6) AS dup_token_fraction
    FROM base b LEFT JOIN agg a USING (doc_id)
    """,
)
def q95_exact_substring(spark, sf_dir):
    """Exact-substring duplication profile (Lee et al. 2021): per doc,
    coverage by 5-token grams occurring >= 2 times corpus-wide —
    exact interval-union span arithmetic, integer-exact vs the
    oracle. See :func:`maston_spark.llm.text.exact_substring_spans`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.exact_substring_spans(d, k=5)


@query(
    "q96_bigram_perplexity",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    bg AS (SELECT doc_id, toks[i] AS p, toks[i] || ' ' || toks[i+1] AS g
           FROM (SELECT doc_id, toks, unnest(range(1, n)) AS i
                 FROM base WHERE n >= 2)),
    doc_bg AS (SELECT doc_id, p, g, count(*) AS m FROM bg GROUP BY 1, 2, 3),
    corpus_bg AS (SELECT p, g, sum(m) AS cb FROM doc_bg GROUP BY 1, 2),
    pc AS (SELECT p, sum(cb) AS cp FROM corpus_bg GROUP BY 1),
    v AS (SELECT count(DISTINCT tok) AS vsize
          FROM (SELECT unnest(toks) AS tok FROM t)),
    j AS (SELECT doc_id, m, cb, cp FROM doc_bg
          JOIN corpus_bg USING (p, g) JOIN pc USING (p)),
    agg AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
                   -sum(m * (log2(cb + 1) - log2(cp + (SELECT vsize FROM v))))
                     / sum(m) AS h
            FROM j GROUP BY doc_id)
    SELECT doc_id, n_bigrams, round(h, 6) AS bits_per_bigram,
           round(pow(2, h), 3) AS ppl
    FROM agg
    """,
)
def q96_bigram_perplexity(spark, sf_dir):
    """Add-one bigram LM cross-entropy/perplexity per document
    (CCNet/KenLM quality-filter shape, log domain). See
    :func:`maston_spark.llm.text.bigram_lm_score`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.bigram_lm_score(d)


@query(
    "q97_tfidf_topterms",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    dt AS (SELECT doc_id, len(toks) AS n, unnest(toks) AS term FROM t),
    doc_term AS (SELECT doc_id, n, term, count(*) AS tf_count
                 FROM dt GROUP BY 1, 2, 3),
    df_t AS (SELECT term, count(*) AS doc_freq FROM doc_term GROUP BY 1),
    n_docs AS (SELECT count(*) AS nd FROM t),
    scored AS (SELECT doc_id, term, tf_count, doc_freq,
                      (tf_count / CAST(n AS DOUBLE))
                        * ln((SELECT nd FROM n_docs) / CAST(doc_freq AS DOUBLE))
                        AS tfidf_raw
               FROM doc_term JOIN df_t USING (term)),
    ranked AS (SELECT doc_id, term, tf_count, doc_freq, tfidf_raw,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY round(tfidf_raw, 9) DESC, term ASC) AS rank
               FROM scored)
    SELECT doc_id, term, CAST(tf_count AS BIGINT) AS tf_count,
           CAST(doc_freq AS BIGINT) AS doc_freq,
           round(tfidf_raw, 6) AS tfidf, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def q97_tfidf_topterms(spark, sf_dir):
    """Per-document top-3 terms by tf-idf (keyword extraction /
    topic tagging). See
    :func:`maston_spark.llm.text.tfidf_top_terms`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.tfidf_top_terms(d, top_k=3)

@query(
    "q98_bloom_incremental",
    oracle="""
    WITH ref AS (SELECT doc_id, text FROM documents),
    newdocs AS (
      SELECT doc_id + 1000000 AS doc_id, text FROM ref WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || ' fresh tail' AS text
      FROM ref WHERE doc_id % 5 = 0
    ),
    rnorm AS (SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
              FROM ref),
    refpos AS (
      SELECT DISTINCT pos FROM (
        SELECT unnest([
          ('0x' || substr(md5(norm || ':0'), 1, 8))::BIGINT % 4096,
          ('0x' || substr(md5(norm || ':1'), 1, 8))::BIGINT % 4096
        ]) AS pos FROM rnorm)),
    nnorm AS (SELECT doc_id,
                     lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
              FROM newdocs),
    npos AS (SELECT doc_id, i,
                    ('0x' || substr(md5(norm || ':' || i), 1, 8))::BIGINT % 4096 AS pos
             FROM nnorm, (SELECT unnest([0, 1]) AS i)),
    bloom AS (SELECT doc_id, bool_and(r.pos IS NOT NULL) AS maybe_dup
              FROM npos n LEFT JOIN refpos r USING (pos) GROUP BY doc_id),
    exact AS (SELECT n.doc_id,
                     max(CASE WHEN rh.h IS NOT NULL THEN 1 ELSE 0 END) = 1 AS is_dup
              FROM (SELECT doc_id, md5(norm) AS h FROM nnorm) n
              LEFT JOIN (SELECT DISTINCT md5(norm) AS h FROM rnorm) rh USING (h)
              GROUP BY n.doc_id)
    SELECT doc_id, maybe_dup, is_dup,
           (maybe_dup AND NOT is_dup) AS false_positive
    FROM bloom JOIN exact USING (doc_id)
    """,
)
def q98_bloom_incremental(spark, sf_dir):
    """Bloom-filter incremental dedup: flag a NEW corpus (exact
    copies of every 7th reference doc + genuinely fresh docs) against
    the `documents` reference via a distributed-built bitmap.
    ``m=4096`` is deliberately small so the ``false_positive``
    column is exercised at test scale. See
    :func:`maston_spark.llm.dedup.bloom_incremental_dedup`."""
    ref = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = ref.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    ).unionByName(
        ref.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat("text", F.lit(" fresh tail")).alias("text"),
        )
    )
    return DD.bloom_incremental_dedup(new, ref, m=4096, n_hashes=2)


@query(
    "q99_chunk_overlap",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    t2 AS (SELECT doc_id, toks, len(toks) AS n FROM t),
    s AS (SELECT doc_id, toks, n,
                 unnest(range(0, greatest(n, 1), 48)) AS chunk_start
          FROM t2)
    SELECT doc_id,
           CAST(chunk_start // 48 AS INT) AS chunk_id,
           CAST(chunk_start AS INT) AS chunk_start,
           CAST(least(64, n - chunk_start) AS INT) AS chunk_len,
           array_to_string(toks[chunk_start + 1 : chunk_start + 64], ' ')
             AS chunk_text
    FROM s
    """,
)
def q99_chunk_overlap(spark, sf_dir):
    """Token-window chunking with 16-token overlap (RAG prep). See
    :func:`maston_spark.llm.sampling.chunk_tokens`."""
    from maston_spark.llm import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return SAMP.chunk_tokens(d, chunk_size=64, overlap=16).drop("n_tokens")


@query(
    "q100_dsir_weights",
    oracle="""
    WITH base AS (SELECT doc_id, source IN ('src0', 'src1') AS tgt,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    db AS (SELECT doc_id, tgt,
                  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS bucket,
                  count(*) AS cnt
           FROM base GROUP BY 1, 2, 3),
    dist AS (SELECT bucket, sum(cnt) AS q_cnt,
                    sum(CASE WHEN tgt THEN cnt ELSE 0 END) AS p_cnt
             FROM db GROUP BY 1),
    tot AS (SELECT sum(q_cnt) AS q_tot, sum(p_cnt) AS p_tot FROM dist),
    lr AS (SELECT bucket,
                  round(ln((p_cnt + 1) / CAST(p_tot + 256 AS DOUBLE))
                      - ln((q_cnt + 1) / CAST(q_tot + 256 AS DOUBLE)), 9)
                    AS log_ratio
           FROM dist, tot)
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_tokens,
           round(CAST(sum(CAST(cnt * log_ratio AS DECIMAL(28,9))) AS DOUBLE), 6)
             AS log_weight
    FROM db JOIN lr USING (bucket)
    GROUP BY doc_id
    """,
)
def q100_dsir_weights(spark, sf_dir):
    """DSIR importance weights: hashed bag-of-words likelihood ratio
    of a target domain (sources src0/src1) vs the raw corpus. See
    :func:`maston_spark.llm.sampling.dsir_log_weights`."""
    from maston_spark.llm import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return SAMP.dsir_log_weights(
        d, target_filter=F.col("source").isin("src0", "src1"), n_buckets=256
    )


@query(
    "q101_lexical_diversity",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    dt AS (SELECT doc_id, len(toks) AS n_tokens, unnest(toks) AS term FROM t),
    g AS (SELECT doc_id, n_tokens, term, count(*) AS cnt
          FROM dt GROUP BY 1, 2, 3)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS distinct_tokens,
           round(count(*) / CAST(n_tokens AS DOUBLE), 6) AS type_token_ratio,
           round(CAST(sum(CAST(round(
                   -(cnt / CAST(n_tokens AS DOUBLE))
                     * ln(cnt / CAST(n_tokens AS DOUBLE)), 9)
                 AS DECIMAL(28,9))) AS DOUBLE), 6) AS entropy
    FROM g GROUP BY doc_id, n_tokens
    """,
)
def q101_lexical_diversity(spark, sf_dir):
    """Distinct-token count, type-token ratio, and within-document
    Shannon entropy. See
    :func:`maston_spark.llm.text.lexical_diversity`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.lexical_diversity(d)


@query(
    "q104_embedding_covariance",
    oracle="""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    x AS (SELECT vec_id, gs - 1 AS i, CAST(embedding[gs] AS DOUBLE) AS xi
          FROM e, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS gs) t),
    p AS (SELECT a.i AS i, b.i AS j,
                 sum(CAST(round(a.xi * b.xi, 9) AS DECIMAL(38,9))) AS s_ij,
                 count(*) AS n
          FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
          GROUP BY 1, 2),
    d AS (SELECT i, sum(CAST(round(xi, 9) AS DECIMAL(38,9))) AS s
          FROM x GROUP BY 1)
    SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
           round((CAST(s_ij AS DOUBLE)
                  - CAST(di.s AS DOUBLE) * CAST(dj.s AS DOUBLE) / n)
                 / (n - 1), 6) + 0.0 AS cov
    FROM p JOIN d di ON di.i = p.i JOIN d dj ON dj.i = p.j
    """,
)
def q104_embedding_covariance(spark, sf_dir):
    """Exact upper-triangle covariance matrix of the embedding
    column (PCA/whitening precursor). See
    :func:`maston_spark.llm.similarity.embedding_covariance`."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.embedding_covariance(e)


@query(
    "q105_profile_numeric",
    oracle="""
    WITH pairs AS (
      SELECT 'l_quantity' AS "column", l_quantity AS v FROM lineitem
      UNION ALL
      SELECT 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT 'l_tax', l_tax FROM lineitem
    )
    SELECT "column",
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           min(v) AS min_val, max(v) AS max_val
    FROM pairs GROUP BY "column"
    """,
)
def q105_profile_numeric(spark, sf_dir):
    """Exact one-scan numeric profile of lineitem's measure columns.
    See :func:`maston_spark.profiling.profile_numeric`."""
    from maston_spark.profiling import profile_numeric

    li = load_table(spark, sf_dir, "lineitem")
    return profile_numeric(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


@query(
    "q111_exact_substring_dedup",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t),
    g AS (SELECT doc_id, toks, unnest(range(0, n_tokens - 4)) AS s
          FROM base WHERE n_tokens >= 5),
    grams AS (SELECT doc_id, s, array_to_string(toks[s+1:s+5], ' ') AS gram FROM g),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    cov AS (SELECT DISTINCT doc_id, unnest(range(s, s + 5)) AS pos
            FROM grams JOIN dup USING (gram)),
    tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
            FROM base, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN cov
               ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
             WHERE cov.pos IS NULL),
    reb AS (SELECT doc_id, count(*) AS n_kept_tokens,
                   string_agg(tok, ' ' ORDER BY pos) AS text_dedup
            FROM kept GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(r.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
           coalesce(r.text_dedup, '') AS text_dedup
    FROM base b LEFT JOIN reb r USING (doc_id)
    """,
)
def q111_exact_substring_dedup(spark, sf_dir):
    """Exact-substring REMOVAL: rewrite each document with all
    corpus-duplicated 5-gram spans removed (the transform half of
    Lee et al. 2021; q95 is the reporting half). See
    :func:`maston_spark.llm.text.exact_substring_dedup`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.exact_substring_dedup(d, k=5)


@query(
    "q155_keep_first_substring",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS n_tokens FROM t),
    g AS (SELECT doc_id, toks, unnest(range(0, n_tokens - 4)) AS s
          FROM base WHERE n_tokens >= 5),
    grams AS (SELECT doc_id, s, array_to_string(toks[s+1:s+5], ' ') AS gram FROM g),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) >= 2),
    occ AS (SELECT grams.doc_id, grams.s, grams.gram,
                   row_number() OVER (PARTITION BY grams.gram
                                      ORDER BY grams.doc_id, grams.s) AS rn
            FROM grams JOIN dup USING (gram)),
    cov AS (SELECT DISTINCT doc_id, unnest(range(s, s + 5)) AS pos
            FROM occ WHERE rn > 1),
    tok AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok
            FROM base, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN cov
               ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
             WHERE cov.pos IS NULL),
    reb AS (SELECT doc_id, count(*) AS n_kept_tokens,
                   string_agg(tok, ' ' ORDER BY pos) AS text_dedup
            FROM kept GROUP BY doc_id)
    SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(r.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
           coalesce(r.text_dedup, '') AS text_dedup
    FROM base b LEFT JOIN reb r USING (doc_id)
    """,
)
def q155_keep_first_substring(spark, sf_dir):
    """Exact-substring removal at Lee et al. 2021's granularity:
    every duplicated 5-gram span is removed EXCEPT its first
    occurrence under the (doc_id, start) total order, so the corpus
    keeps exactly one copy of duplicated text instead of losing it
    everywhere (q111 is the remove-all sibling). See
    :func:`maston_spark.llm.text.exact_substring_dedup`
    (``keep_first=True``)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.exact_substring_dedup(d, k=5, keep_first=True)


@query(
    "q112_profile_strings",
    oracle="""
    WITH pairs AS (
      SELECT 'c_name' AS "column", c_name AS v FROM customer
      UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer
    ),
    p2 AS (
      SELECT "column", v FROM pairs
      UNION ALL SELECT 'p_type', p_type FROM part
      UNION ALL SELECT 'p_brand', p_brand FROM part
    )
    SELECT "column",
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           CAST(sum(CASE WHEN len(v) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
           CAST(min(len(v)) AS BIGINT) AS min_len,
           CAST(max(len(v)) AS BIGINT) AS max_len,
           round(sum(len(v)) / CAST(count(v) AS DOUBLE), 6) AS avg_len
    FROM p2 GROUP BY "column"
    """,
)
def q112_profile_strings(spark, sf_dir):
    """Exact one-scan-per-table string profile over customer and part
    text columns. See :func:`maston_spark.profiling.profile_strings`."""
    from maston_spark.profiling import profile_strings

    c = load_table(spark, sf_dir, "customer")
    p = load_table(spark, sf_dir, "part")
    return profile_strings(c, ["c_name", "c_mktsegment"]).unionByName(
        profile_strings(p, ["p_type", "p_brand"])
    )


@query(
    "q113_curation_pipeline",
    oracle="""
    WITH t AS (SELECT doc_id, source, text,
                      string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT doc_id, source, text,
             round(
               (CASE WHEN len(toks) BETWEEN 20 AND 10000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
                              / length(text), 6) < 0.2 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN round(len(list_filter(toks,
                                x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                              / len(toks), 6) > 0.01 THEN 0.3 ELSE 0.0 END), 6
             ) AS quality_score
      FROM t),
    gated AS (SELECT * FROM scored WHERE quality_score >= 0.7),
    hashed AS (SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                      AS content_hash FROM gated),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY content_hash
                                     ORDER BY doc_id) AS __rn
        FROM hashed) WHERE __rn = 1),
    capped AS (
      SELECT * FROM (
        SELECT doc_id, source, quality_score,
               row_number() OVER (PARTITION BY source
                 ORDER BY quality_score DESC, doc_id) AS domain_rank
        FROM deduped) WHERE domain_rank <= 15)
    SELECT doc_id, source, quality_score,
           CAST(domain_rank AS BIGINT) AS domain_rank,
           CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 1000 < 800
                THEN 'train'
                WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::BIGINT % 1000 < 900
                THEN 'val'
                ELSE 'test' END AS split
    FROM capped
    """,
)
def q113_curation_pipeline(spark, sf_dir):
    """End-to-end curation pipeline, four operators composed the way
    a training-data run chains them: quality gate (>= 0.7) → exact
    content dedup (min doc id per normalized hash) → per-source
    quota (top 15 by quality) → deterministic split assignment.

    One logical plan: Catalyst evaluates the quality gate AT THE
    SCAN (DataFilters on the parquet read), both windows get a
    partial+final WindowGroupLimit (map-side top-k pruning before
    the shuffle), and the split is a pure projection — the whole
    pipeline is TWO exchanges end-to-end (content hash, then
    source) at any scale.
    """
    from pyspark.sql import Window

    from maston_spark.llm import dedup as _DD, sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = TXT.quality_score(d).filter(F.col("quality_score") >= 0.7)
    hashed = scored.withColumn("content_hash", _DD.content_hash(F.col("text")))
    w_dedup = Window.partitionBy("content_hash").orderBy("doc_id")
    deduped = (
        hashed.withColumn("__rn", F.row_number().over(w_dedup))
        .filter(F.col("__rn") == 1)
    )
    w_cap = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    capped = (
        deduped.withColumn("domain_rank", F.row_number().over(w_cap).cast("long"))
        .filter(F.col("domain_rank") <= 15)
    )
    return SAMP.split_assign(capped, salt="split").select(
        "doc_id", "source", "quality_score", "domain_rank", "split"
    )


@query(
    "q117_zipf_fit",
    oracle="""
    WITH tf AS (
      SELECT tok, count(*) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      GROUP BY tok),
    ranked AS (
      SELECT freq,
             row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
      FROM tf),
    xy AS (
      SELECT CAST(round(ln(rank), 9) AS DECIMAL(28,9)) AS x,
             CAST(round(ln(freq), 9) AS DECIMAL(28,9)) AS y,
             CAST(round(ln(rank) * ln(rank), 9) AS DECIMAL(28,9)) AS xx,
             CAST(round(ln(rank) * ln(freq), 9) AS DECIMAL(28,9)) AS xy
      FROM ranked)
    SELECT CAST(count(*) AS BIGINT) AS n_terms,
           round((count(*) * CAST(sum(xy) AS DOUBLE)
                  - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
                 / (count(*) * CAST(sum(xx) AS DOUBLE)
                    - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)), 6)
             AS zipf_slope
    FROM xy
    """,
)
def q117_zipf_fit(spark, sf_dir):
    """Zipf rank-frequency fit over the corpus vocabulary: the
    least-squares slope of ln(freq) vs ln(rank) — the classic
    "does this corpus look like natural language" lexical statistic
    (Zipf's law slope ≈ −1 for real text; public).

    Scale shape: term frequencies are one combiner-reduced hash agg
    (shuffle carries the VOCABULARY, not the corpus); the global
    vocabulary rank uses the TWO-PHASE prefix pattern
    (:func:`maston_spark.relational.global_rank` — range-partition by
    (freq desc, tok), per-partition offsets from a |partitions|-row
    collect, rank = offset + local position): a partition-less
    ``Window.orderBy`` would pull the whole vocabulary through ONE
    task, and web-scale text has an effectively unbounded vocabulary
    (~10⁹ distinct tokens at 100 TB — typos, numbers, URLs). The
    regression sums are round-to-9 → DECIMAL(28,9) so the single-row
    answer is summation-order-exact across engines.
    """
    from maston_spark.relational import global_rank

    d = load_table(spark, sf_dir, "documents").select("text")
    tf = (
        d.select(F.explode(F.split(F.col("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_rank(
        tf, [F.col("freq").desc(), F.col("tok").asc()], rank_col="rank"
    ).select("freq", "rank")
    lx, ly = F.log("rank"), F.log("freq")
    dec = lambda c: F.round(c, 9).cast("decimal(28,9)")  # noqa: E731
    xy = ranked.select(
        dec(lx).alias("x"),
        dec(ly).alias("y"),
        dec(lx * lx).alias("xx"),
        dec(lx * ly).alias("xy"),
    )
    n = F.count(F.lit(1))
    sx, sy = F.sum("x").cast("double"), F.sum("y").cast("double")
    sxx, sxy = F.sum("xx").cast("double"), F.sum("xy").cast("double")
    return xy.agg(
        n.cast("long").alias("n_terms"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias(
            "zipf_slope"
        ),
    )


@query(
    "q118_pagerank",
    oracle="""
    WITH pairs AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
    edges AS (
      SELECT p AS src, 1000000 + s AS dst FROM pairs
      UNION ALL
      SELECT 1000000 + s, p FROM pairs),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    r0 AS (SELECT node, round(1.0 / (SELECT n FROM nn), 9) AS rank FROM nodes),
    c1 AS (SELECT e.dst AS node,
                  CAST(round(0.85 * r.rank / deg.d, 9) AS DECIMAL(28,9)) AS c
           FROM edges e JOIN r0 r ON e.src = r.node JOIN deg ON deg.src = e.src),
    r1 AS (SELECT nodes.node,
                  round(round(0.15 / (SELECT n FROM nn), 9)
                        + coalesce(CAST(s.t AS DOUBLE), 0.0), 9) AS rank
           FROM nodes LEFT JOIN
             (SELECT node, sum(c) AS t FROM c1 GROUP BY node) s USING (node)),
    c2 AS (SELECT e.dst AS node,
                  CAST(round(0.85 * r.rank / deg.d, 9) AS DECIMAL(28,9)) AS c
           FROM edges e JOIN r1 r ON e.src = r.node JOIN deg ON deg.src = e.src),
    r2 AS (SELECT nodes.node,
                  round(round(0.15 / (SELECT n FROM nn), 9)
                        + coalesce(CAST(s.t AS DOUBLE), 0.0), 9) AS rank
           FROM nodes LEFT JOIN
             (SELECT node, sum(c) AS t FROM c2 GROUP BY node) s USING (node)),
    c3 AS (SELECT e.dst AS node,
                  CAST(round(0.85 * r.rank / deg.d, 9) AS DECIMAL(28,9)) AS c
           FROM edges e JOIN r2 r ON e.src = r.node JOIN deg ON deg.src = e.src),
    r3 AS (SELECT nodes.node,
                  round(round(0.15 / (SELECT n FROM nn), 9)
                        + coalesce(CAST(s.t AS DOUBLE), 0.0), 9) AS rank
           FROM nodes LEFT JOIN
             (SELECT node, sum(c) AS t FROM c3 GROUP BY node) s USING (node))
    SELECT node, round(rank, 6) AS rank FROM r3
    """,
)
def q118_pagerank(spark, sf_dir):
    """Three power iterations of PageRank over the bipartite
    part↔supplier graph (supplier nodes offset by 1,000,000) —
    iterative graph centrality beyond connected components. See
    :func:`maston_spark.graph.pagerank`."""
    from maston_spark.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    edges = pairs.select(
        F.col("p").alias("src"), (F.lit(1000000) + F.col("s")).alias("dst")
    ).unionByName(
        pairs.select(
            (F.lit(1000000) + F.col("s")).alias("src"), F.col("p").alias("dst")
        )
    )
    return pagerank(edges, iterations=3, damping=0.85)


@query(
    "q119_kmeans",
    oracle="""
    WITH e AS (SELECT vec_id AS id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) AS cid, v AS c
           FROM (SELECT id, v FROM e ORDER BY id LIMIT 4)),
    p1 AS (SELECT e.id, e.v, c0.cid,
                  round(list_sum(list_transform(range(1, len(e.v) + 1),
                        i -> (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i]))), 9) AS d
           FROM e, c0),
    a1 AS (SELECT id, v, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
             FROM p1) WHERE rn = 1),
    dims AS (SELECT cid, i - 1 AS dim, v[i] AS x
             FROM a1, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) t),
    upd AS (SELECT cid, dim,
                   round(CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9)))
                         AS DOUBLE) / count(*), 9) AS m
            FROM dims GROUP BY 1, 2),
    c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM upd GROUP BY cid),
    p2 AS (SELECT e.id, c1.cid,
                  round(list_sum(list_transform(range(1, len(e.v) + 1),
                        i -> (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))), 9) AS d
           FROM e, c1)
    SELECT id AS vec_id, cid AS cluster, round(d, 6) AS sq_dist FROM (
      SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
      FROM p2) WHERE rn = 1
    """,
)
def q119_kmeans(spark, sf_dir):
    """Two Lloyd iterations of k-means (k=4) over the embeddings —
    the deterministic coarse-quantizer training step. See
    :func:`maston_spark.llm.similarity.kmeans_lloyd`."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.kmeans_lloyd(e, k=4, iterations=2)


@query(
    "q120_weighted_sample",
    oracle="""
    SELECT doc_id, source, n_chars,
           round(exp(ln((('0x' || substr(md5('wsample:' || doc_id), 1, 8))::BIGINT
                         + 0.5) / 4294967296.0)
                     / CAST(n_chars AS DOUBLE)), 9) AS sample_key
    FROM documents
    ORDER BY sample_key DESC, doc_id ASC
    LIMIT 100
    """,
)
def q120_weighted_sample(spark, sf_dir):
    """Deterministic Efraimidis-Spirakis weighted sample: 100 docs
    weighted by length. See
    :func:`maston_spark.llm.sampling.weighted_sample`."""
    from maston_spark.llm import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return SAMP.weighted_sample(d, n=100, weight_col="n_chars")


def _q122_oracle_sql(n: int = 256) -> str:
    """Literal-rows golden oracle for q122: replicate the synthetic
    payload + feature kernel in plain numpy for ids 0..n-1 plus the
    every-7th twins, group by the rounded feature tuple, and emit
    star pairs (group min ↔ each other member)."""
    import hashlib
    import zlib

    import numpy as np

    def feat(mid: int):
        raw = zlib.decompress(
            zlib.compress(
                hashlib.sha256(f"media-{mid}".encode()).digest() * (8 + mid % 5)
            )
        )
        a = np.frombuffer(raw, dtype=np.uint8).astype(np.float32)
        pad = (-len(a)) % 16
        if pad:
            a = np.pad(a, (0, pad))
        return tuple(
            round(float(x), 6) for x in (a.reshape(-1, 16).mean(axis=0) / 255.0)
        )

    groups: dict[tuple, list[int]] = {}
    for mid in range(n):
        groups.setdefault(feat(mid), []).append(mid)
    for mid in range(0, n, 7):
        groups.setdefault(feat(mid), []).append(1000000 + mid)
    rows = []
    for members in groups.values():
        members = sorted(members)
        for other in members[1:]:
            rows.append(f"({members[0]},{other})")
    values = ",".join(sorted(rows, key=lambda s: eval(s)))
    return f"""
    SELECT CAST(c0 AS BIGINT) AS id_a, CAST(c1 AS BIGINT) AS id_b
    FROM (VALUES {values}) AS t(c0, c1)
    """


@query("q122_media_neardup", oracle=_q122_oracle_sql())
def q122_media_neardup(spark, sf_dir):
    """Multimodal perceptual dedup: media whose extracted feature
    vectors coincide (rounded to 6 dp) — the image/audio dedup step
    of a multimodal corpus pipeline, run on features rather than
    raw bytes so re-encoded twins still collide. The corpus is the
    synthetic media table plus exact twins of every 7th item under
    new ids; pairs are (group-min id ↔ member).

    Scale shape: the feature key is one md5 projection; grouping is
    a combiner-reduced agg on the 128-bit key (no skew); pairs come
    from ONE equi-join of the key table against its per-key minimum
    — never an all-pairs comparison.
    """
    from maston_spark.llm import multimodal as MM

    media = MM.synthesize_media(spark, n=256, partitions=8)
    twins = media.filter(F.col("media_id") % 7 == 0).select(
        (F.col("media_id") + 1000000).alias("media_id"),
        "kind", "payload", "meta",
    )
    corpus = media.unionByName(twins)
    feats = MM.extract_features(corpus, dim=16)
    key = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.col("feature"), lambda x: F.round(x.cast("double"), 6).cast("string")
            ),
        )
    )
    grp = feats.select("media_id", key.alias("__k"))
    mins = grp.groupBy("__k").agg(F.min("media_id").alias("id_a"))
    return (
        grp.join(mins, "__k")
        .filter(F.col("media_id") != F.col("id_a"))
        .select("id_a", F.col("media_id").alias("id_b"))
    )


@query(
    "q123_bm25_rank",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS dl,
                    list_filter(toks, x -> list_contains(
                      ['spark', 'window', 'merge', 'dup'], x)) AS hits
             FROM t),
    stats AS (SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM base),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(hits) AS term
                 FROM base WHERE len(hits) > 0)
           GROUP BY 1, 2, 3),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT doc_id,
             ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
               AS score_t
      FROM tf JOIN dft USING (term), stats),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
             round(CAST(sum(CAST(round(score_t, 9) AS DECIMAL(28,9)))
                        AS DOUBLE), 6) AS bm25
      FROM scored GROUP BY doc_id)
    SELECT doc_id, n_terms_matched, bm25
    FROM per_doc ORDER BY bm25 DESC, doc_id ASC LIMIT 20
    """,
)
def q123_bm25_rank(spark, sf_dir):
    """Okapi BM25 lexical retrieval: top-20 documents for a 4-term
    query (3 common + 1 rare term so idf actually differentiates).
    See :func:`maston_spark.llm.text.bm25_rank`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.bm25_rank(d, ["spark", "window", "merge", "dup"])


@query(
    "q165_nb_classifier",
    oracle="""
    WITH corpus AS (
      SELECT doc_id AS id, text, 'plain' AS lab FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zq xk vv zq xk', 'shifted'
      FROM documents),
    tr AS (SELECT lab, unnest(string_split(text, ' ')) AS term
           FROM corpus WHERE id % 2 = 0),
    counts AS (SELECT lab, term, count(*) AS c FROM tr GROUP BY 1, 2),
    lab_tot AS (SELECT lab, sum(c) AS tot FROM counts GROUP BY 1),
    vocab AS (SELECT DISTINCT term FROM counts),
    vsz AS (SELECT count(*) AS v FROM vocab),
    nd AS (SELECT lab, count(*) AS ndl FROM corpus WHERE id % 2 = 0
           GROUP BY 1),
    na AS (SELECT count(*) AS n FROM corpus WHERE id % 2 = 0),
    dense AS (SELECT lt.lab, v.term,
                     CAST(round(ln((coalesce(c.c, 0) + 1.0)
                                   / (lt.tot + 1.0 * vsz.v)), 9)
                          AS DECIMAL(28,9)) AS lp
              FROM lab_tot lt CROSS JOIN vocab v
              LEFT JOIN counts c ON c.lab = lt.lab AND c.term = v.term,
              vsz),
    priors AS (SELECT nd.lab,
                      CAST(round(ln(CAST(ndl AS DOUBLE) / na.n), 9)
                           AS DECIMAL(28,9)) AS prior
               FROM nd, na),
    hits AS (SELECT t.id, t.term
             FROM (SELECT id, unnest(string_split(text, ' ')) AS term
                   FROM corpus WHERE id % 2 = 1) t
             JOIN vocab USING (term)),
    ssum AS (SELECT id, d.lab, sum(d.lp) AS s
             FROM hits h JOIN dense d ON d.term = h.term GROUP BY 1, 2),
    sc AS (SELECT id, ssum.lab,
                  CAST(CAST(ssum.s AS DECIMAL(28,9)) + p.prior
                       AS DECIMAL(28,9)) AS score
           FROM ssum JOIN priors p ON p.lab = ssum.lab),
    best AS (SELECT id, lab, score FROM (
               SELECT *, row_number() OVER (PARTITION BY id
                        ORDER BY score DESC, lab ASC) AS rn
               FROM sc) WHERE rn = 1)
    SELECT CASE WHEN id >= 1000000 THEN 'shifted' ELSE 'plain' END
             AS label_actual,
           lab AS label_pred,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM best GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q165_nb_classifier(spark, sf_dir):
    """In-engine multinomial naive-Bayes curation classifier (the
    fastText-style model-based filter slot): the corpus plants a
    learnable distribution shift — every doc re-appears with 5
    marker tokens appended, labeled 'shifted' — trains on the even
    ids and reports the held-out confusion matrix. The planted
    markers make the task learnable, so the graded matrix proves the
    TRAINED log-probs drive predictions (near-perfect recall on
    'shifted'), not just the priors. See
    :func:`maston_spark.llm.text.nb_classify`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" zq xk vv zq xk")).alias("text"),
    )
    corpus = (
        d.withColumn("label", F.lit("plain"))
        .unionByName(shifted.withColumn("label", F.lit("shifted")))
    )
    train = corpus.filter(F.col("doc_id") % 2 == 0)
    test = corpus.filter(F.col("doc_id") % 2 == 1)
    pred = TXT.nb_classify(train, test.select("doc_id", "text"))
    actual = F.when(
        F.col("doc_id") >= 1000000, F.lit("shifted")
    ).otherwise(F.lit("plain"))
    return (
        pred.select(actual.alias("label_actual"), "label_pred")
        .groupBy("label_actual", "label_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("label_actual", "label_pred")
    )


@query(
    "q156_query_likelihood",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS dl,
                    list_filter(toks, x -> list_contains(
                      ['spark', 'window', 'merge', 'dup'], x)) AS hits
             FROM t),
    stats AS (SELECT CAST(sum(dl) AS BIGINT) AS total FROM base),
    h AS (SELECT doc_id, unnest(hits) AS term FROM base WHERE len(hits) > 0),
    tt AS (SELECT term,
                  CAST(count(*) AS DOUBLE) / (SELECT total FROM stats) AS p
           FROM h GROUP BY term),
    consts AS (SELECT sum(CAST(round(ln(2000.0 * p), 9) AS DECIMAL(28,9)))
                        AS c0,
                      count(*) AS nq
               FROM tt),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM h GROUP BY 1, 2),
    adj AS (SELECT doc_id,
                   sum(CAST(round(ln(tf + 2000.0 * p) - ln(2000.0 * p), 9)
                            AS DECIMAL(28,9))) AS a,
                   count(*) AS m
            FROM tf JOIN tt USING (term) GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(coalesce(adj.m, 0) AS BIGINT) AS n_terms_matched,
           round(CAST(consts.c0 + coalesce(adj.a, CAST(0 AS DECIMAL(28,9)))
                      AS DOUBLE)
                 - round(consts.nq * ln(b.dl + 2000.0), 9), 9) AS ql
    FROM base b LEFT JOIN adj ON adj.doc_id = b.doc_id, consts
    ORDER BY ql DESC, b.doc_id ASC LIMIT 20
    """,
)
def q156_query_likelihood(spark, sf_dir):
    """Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    2001): top-20 documents for the same 4-term query q123 uses, so
    the two lexical systems are directly comparable. See
    :func:`maston_spark.llm.text.query_likelihood_rank`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.query_likelihood_rank(d, ["spark", "window", "merge", "dup"])


@query(
    "q157_hybrid_rrf",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    base AS (SELECT doc_id, len(toks) AS dl,
                    list_filter(toks, x -> list_contains(
                      ['spark', 'window', 'merge', 'dup'], x)) AS hits
             FROM t),
    -- BM25 system (q123's scoring, top-30)
    bstats AS (SELECT count(*) AS n_docs,
                      CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
               FROM base),
    tf AS (SELECT doc_id, dl, term, count(*) AS tf
           FROM (SELECT doc_id, dl, unnest(hits) AS term
                 FROM base WHERE len(hits) > 0)
           GROUP BY 1, 2, 3),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    bsc AS (SELECT doc_id,
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
                     AS score_t
            FROM tf JOIN dft USING (term), bstats),
    bpd AS (SELECT doc_id,
                   round(CAST(sum(CAST(round(score_t, 9) AS DECIMAL(28,9)))
                              AS DOUBLE), 6) AS bm25
            FROM bsc GROUP BY doc_id),
    btop AS (SELECT doc_id, bm25 FROM bpd
             ORDER BY bm25 DESC, doc_id ASC LIMIT 30),
    br AS (SELECT doc_id,
                  row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r
           FROM btop),
    -- query-likelihood system (q156's scoring, top-30)
    stats AS (SELECT CAST(sum(dl) AS BIGINT) AS total FROM base),
    h AS (SELECT doc_id, unnest(hits) AS term FROM base WHERE len(hits) > 0),
    tt AS (SELECT term,
                  CAST(count(*) AS DOUBLE) / (SELECT total FROM stats) AS p
           FROM h GROUP BY term),
    consts AS (SELECT sum(CAST(round(ln(2000.0 * p), 9) AS DECIMAL(28,9)))
                        AS c0,
                      count(*) AS nq
               FROM tt),
    qtf AS (SELECT doc_id, term, count(*) AS tf FROM h GROUP BY 1, 2),
    adj AS (SELECT doc_id,
                   sum(CAST(round(ln(tf + 2000.0 * p) - ln(2000.0 * p), 9)
                            AS DECIMAL(28,9))) AS a
            FROM qtf JOIN tt USING (term) GROUP BY doc_id),
    qpd AS (SELECT b.doc_id,
                   round(CAST(consts.c0
                              + coalesce(adj.a, CAST(0 AS DECIMAL(28,9)))
                              AS DOUBLE)
                         - round(consts.nq * ln(b.dl + 2000.0), 9), 9) AS ql
            FROM base b LEFT JOIN adj ON adj.doc_id = b.doc_id, consts),
    qtop AS (SELECT doc_id, ql FROM qpd
             ORDER BY ql DESC, doc_id ASC LIMIT 30),
    qr AS (SELECT doc_id,
                  row_number() OVER (ORDER BY ql DESC, doc_id ASC) AS r
           FROM qtop),
    u AS (SELECT doc_id, r FROM br UNION ALL SELECT doc_id, r FROM qr)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
           round(CAST(sum(CAST(round(1.0 / (60.0 + r), 9) AS DECIMAL(28,9)))
                      AS DOUBLE), 9) AS rrf_score
    FROM u GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id ASC LIMIT 15
    """,
)
def q157_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion: BM25 (q123's
    system) and Dirichlet query-likelihood (q156's system) each rank
    their top-30 for the same query; RRF fuses the two rankings
    without score calibration. See
    :func:`maston_spark.llm.text.rrf_fuse`."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    terms = ["spark", "window", "merge", "dup"]
    bm = TXT.bm25_rank(d, terms, top_k=30).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    ql = TXT.query_likelihood_rank(d, terms, top_k=30).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("ql").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    return TXT.rrf_fuse([bm, ql], k=60, top_k=15)


@query(
    "q124_pmi_bigrams",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
    bgr AS (SELECT toks[i] || ' ' || toks[i + 1] AS bigram
            FROM (SELECT toks FROM t WHERE len(toks) >= 2),
                 LATERAL (SELECT unnest(range(1, len(toks))) AS i) r),
    big AS (SELECT bigram, count(*) AS c_ab FROM bgr
            GROUP BY 1 HAVING count(*) >= 5),
    u AS (SELECT w, count(*) AS c
          FROM (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS t_tokens FROM u),
    sc AS (SELECT bigram, c_ab, ua.c AS c_a, ub.c AS c_b,
                  ln((CAST(c_ab AS DOUBLE) * t_tokens)
                     / (CAST(ua.c AS DOUBLE) * ub.c)) AS pmi_raw
           FROM big
           JOIN u ua ON ua.w = string_split(bigram, ' ')[1]
           JOIN u ub ON ub.w = string_split(bigram, ' ')[2], tot)
    SELECT bigram, CAST(c_ab AS BIGINT) AS c_ab,
           CAST(c_a AS BIGINT) AS c_a, CAST(c_b AS BIGINT) AS c_b,
           round(pmi_raw, 6) + 0.0 AS pmi
    FROM sc ORDER BY round(pmi_raw, 9) DESC, bigram ASC LIMIT 20
    """,
)
def q124_pmi_bigrams(spark, sf_dir):
    """Top-20 adjacent-token collocations by pointwise mutual
    information (support >= 5). See
    :func:`maston_spark.llm.text.top_pmi_bigrams`."""
    d = load_table(spark, sf_dir, "documents").select("text")
    return TXT.top_pmi_bigrams(d, min_count=5, top_k=20)


@query(
    "q125_source_kl",
    oracle="""
    WITH st AS (SELECT source, unnest(string_split(text, ' ')) AS w
                FROM documents),
    g AS (SELECT source, w, count(*) AS c_st FROM st GROUP BY 1, 2),
    term AS (SELECT w, sum(c_st) AS c_t FROM g GROUP BY 1),
    stot AS (SELECT source, sum(c_st) AS t_s FROM g GROUP BY 1),
    tot AS (SELECT sum(c_t) AS t_all FROM term),
    c AS (SELECT g.source, t_s,
                 CAST(c_st AS DOUBLE) / t_s AS p_s,
                 CAST(c_t AS DOUBLE) / t_all AS p_c
          FROM g JOIN term USING (w) JOIN stot USING (source), tot)
    SELECT source, CAST(max(t_s) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct_terms,
           round(CAST(sum(CAST(round(p_s * ln(p_s / p_c), 9)
                                AS DECIMAL(28,9))) AS DOUBLE), 6) + 0.0
             AS kl_vs_corpus
    FROM c GROUP BY source ORDER BY source
    """,
)
def q125_source_kl(spark, sf_dir):
    """Per-source token-distribution KL divergence from the corpus
    (data-mixing diagnostic). See
    :func:`maston_spark.llm.text.source_token_kl`."""
    d = load_table(spark, sf_dir, "documents").select("source", "text")
    return TXT.source_token_kl(d)


@query(
    "q126_split_leakage",
    oracle=_MINHASH_ORACLE.replace(
        "SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.2",
        """, sp AS (
      SELECT id_a, id_b,
             CASE WHEN ('0x' || substr(md5('split:' || id_a), 1, 8))::BIGINT % 1000 < 800
                  THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || id_a), 1, 8))::BIGINT % 1000 < 900
                  THEN 'val' ELSE 'test' END AS sa,
             CASE WHEN ('0x' || substr(md5('split:' || id_b), 1, 8))::BIGINT % 1000 < 800
                  THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || id_b), 1, 8))::BIGINT % 1000 < 900
                  THEN 'val' ELSE 'test' END AS sb
      FROM jac WHERE jaccard >= 0.2),
    agg AS (
      SELECT least(sa, sb) AS split_lo, greatest(sa, sb) AS split_hi,
             CAST(count(*) AS BIGINT) AS n_pairs
      FROM sp GROUP BY 1, 2),
    tot AS (SELECT sum(n_pairs) AS t FROM agg)
    SELECT split_lo, split_hi, n_pairs,
           (split_lo <> split_hi) AS is_leak,
           round(CAST(n_pairs AS DOUBLE) / t, 6) AS frac_of_pairs
    FROM agg, tot""",
    ),
)
def q126_split_leakage(spark, sf_dir):
    """Cross-split near-dup leakage audit: did dedup happen BEFORE
    the train/val/test split? Every MinHash near-dup pair (the q41
    candidate+verify pipeline) is classified by the splits of its two
    endpoints; pairs straddling two splits are evaluation
    contamination (the test set 'leaks' into training through a
    near-copy). The standard post-split sanity gate in a pretraining
    pipeline (cf. the dedup-then-split ordering in Gopher/CCNet).

    Distributed shape: split membership is a PURE PROJECTION of the
    endpoint id (`split_expr`) — no join against an assignment table
    — so the audit costs exactly one near-dup detection plus a
    6-row aggregate."""
    from maston_spark.llm import sampling as SAMP

    corpus = _neardup_corpus(spark, sf_dir)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    pairs = DD.jaccard_from_lanes(mf, cands, threshold=0.2)
    sp = pairs.select(
        SAMP.split_expr("id_a").alias("sa"), SAMP.split_expr("id_b").alias("sb")
    )
    agg = sp.groupBy(
        F.least("sa", "sb").alias("split_lo"),
        F.greatest("sa", "sb").alias("split_hi"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    tot = agg.agg(F.sum("n_pairs").alias("t"))
    return agg.join(F.broadcast(tot)).select(
        "split_lo",
        "split_hi",
        "n_pairs",
        (F.col("split_lo") != F.col("split_hi")).alias("is_leak"),
        F.round(F.col("n_pairs").cast("double") / F.col("t"), 6).alias(
            "frac_of_pairs"
        ),
    )


@query(
    "q127_budget_select",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id,
                 round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 6)
                   AS score,
                 CAST(len(toks) AS BIGINT) AS n_tokens
          FROM t),
    c AS (SELECT doc_id, score, n_tokens,
                 sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM s)
    SELECT doc_id, score, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
    FROM c WHERE cum <= 20000
    """,
)
def q127_budget_select(spark, sf_dir):
    """Token-budget corpus selection: the top-quality documents
    (distinct-token ratio, id tie-break) until a 20k-token budget is
    filled — the DCLM/FineWeb 'take the best N tokens' step, as a
    distributed two-phase prefix sum instead of the single-task
    global window the SQL formulation implies. See
    :func:`maston_spark.llm.sampling.budget_select`."""
    from maston_spark.llm import sampling as SAMP

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select("doc_id", TXT.tokens(F.col("text")).alias("__toks"))
    base = toks.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct("__toks")) / F.size("__toks"), 6
        ).alias("score"),
        F.size("__toks").cast("long").alias("n_tokens"),
    )
    return SAMP.budget_select(base, budget=20000)


@query(
    "q129_key_skew",
    oracle="""
    WITH c AS (SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1),
    s AS (SELECT sum(n) AS total, count(*) AS nk FROM c)
    SELECT CAST(key AS VARCHAR) AS key, CAST(n AS BIGINT) AS n_rows,
           round(n / CAST(total AS DOUBLE), 6) AS row_frac,
           round(n / (CAST(total AS DOUBLE) / nk), 6) AS skew_ratio
    FROM c, s ORDER BY n DESC, CAST(key AS VARCHAR) ASC LIMIT 10
    """,
)
def q129_key_skew(spark, sf_dir):
    """Join-key skew diagnostic on the event stream's user id: the
    pre-flight check that decides whether a shuffle needs salting or
    AQE skew handling. See
    :func:`maston_spark.profiling.key_skew_report`."""
    from maston_spark.profiling import key_skew_report

    e = load_table(spark, sf_dir, "events").select("user_id")
    return key_skew_report(e, "user_id", top_k=10)


@query(
    "q130_chi2_lang_source",
    oracle="""
    WITH cells AS (SELECT lang AS a, source AS b, count(*) AS o
                   FROM documents GROUP BY 1, 2),
    rt AS (SELECT a, sum(o) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT b, sum(o) AS ct FROM cells GROUP BY 1),
    g AS (SELECT sum(o) AS n, count(*) AS n_cells,
                 (SELECT count(*) FROM rt) AS ra,
                 (SELECT count(*) FROM ct) AS cb
          FROM cells),
    terms AS (
      SELECT (o - (rt * ct) / CAST(n AS DOUBLE))
             * (o - (rt * ct) / CAST(n AS DOUBLE))
             / ((rt * ct) / CAST(n AS DOUBLE)) AS term,
             n_cells, ra, cb, n
      FROM cells JOIN rt USING (a) JOIN ct USING (b), g)
    SELECT round(CAST(sum(CAST(round(term, 9) AS DECIMAL(28,9)))
                      AS DOUBLE), 6) AS chi2,
           CAST((max(ra) - 1) * (max(cb) - 1) AS BIGINT) AS dof,
           CAST(max(n_cells) AS BIGINT) AS n_cells,
           CAST(max(n) AS BIGINT) AS n_rows
    FROM terms
    """,
)
def q130_chi2_lang_source(spark, sf_dir):
    """Chi-square independence test of lang × source over the corpus
    (confounded-dimension audit for sampling decisions). See
    :func:`maston_spark.profiling.chi2_contingency`."""
    from maston_spark.profiling import chi2_contingency

    d = load_table(spark, sf_dir, "documents").select("lang", "source")
    return chi2_contingency(d, "lang", "source")


@query(
    "q131_decayed_engagement",
    oracle="""
    WITH ref AS (SELECT max(ts) AS r FROM events),
    aged AS (SELECT user_id, value,
                    CAST(floor(date_diff('day', CAST(ts AS DATE),
                                         CAST(r AS DATE)) / 7) AS BIGINT) AS k
             FROM events, ref)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(round(value * power(0.5, k), 9)
                               AS DECIMAL(28,9))) AS DOUBLE), 6)
             AS decayed_sum
    FROM aged GROUP BY user_id ORDER BY user_id
    """,
)
def q131_decayed_engagement(spark, sf_dir):
    """Recency-weighted per-user engagement over the event stream:
    half-life-bucketed exponential decay with exact power-of-two
    weights (never libm exp). See
    :func:`maston_spark.relational.decayed_sum`."""
    from maston_spark.relational import decayed_sum

    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return decayed_sum(e, "user_id", "ts", "value", half_life_days=7)


@query(
    "q132_rp_project",
    oracle="""
    WITH x AS (SELECT vec_id, gs - 1 AS i, CAST(embedding[gs] AS DOUBLE) AS xi
               FROM embeddings,
                    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS gs) t),
    terms AS (SELECT vec_id, j,
                     (xi * CASE WHEN substring(md5('rp:' || j || ':' || i), 1, 1)
                                     >= '8'
                                THEN 1.0 ELSE -1.0 END) / sqrt(16.0) AS term
              FROM x, (SELECT unnest(range(0, 16)) AS j) r)
    SELECT vec_id, CAST(j AS INT) AS component,
           round(CAST(sum(CAST(round(term, 9) AS DECIMAL(28,9))) AS DOUBLE), 6)
             AS y
    FROM terms GROUP BY 1, 2
    """,
)
def q132_rp_project(spark, sf_dir):
    """Johnson-Lindenstrauss ±1 random projection of the embedding
    corpus to 16 components (training-free dimensionality reduction
    for ANN/clustering). See
    :func:`maston_spark.llm.similarity.rp_project`."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.rp_project(e, out_dim=16, dims=64)


@query(
    "q133_engagement_trend",
    oracle="""
    WITH ref AS (SELECT min(ts) AS t0 FROM events),
    base AS (SELECT user_id,
                    (epoch_us(ts) - epoch_us(t0)) / 1000000.0 AS x,
                    CAST(value AS DOUBLE) AS y
             FROM events, ref),
    m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sx,
                 CAST(sum(CAST(round(y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sy,
                 CAST(sum(CAST(round(x * y, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxy,
                 CAST(sum(CAST(round(x * x, 9) AS DECIMAL(38,9))) AS DOUBLE) AS sxx
          FROM base GROUP BY 1)
    SELECT user_id, n,
           round(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                      ELSE (n * sxy - sx * sy) / (n * sxx - sx * sx)
                 END * 86400.0, 6) AS slope_per_day
    FROM m ORDER BY user_id
    """,
)
def q133_engagement_trend(spark, sf_dir):
    """Per-user OLS engagement trend (value per day) over the event
    stream — closed-form moment sums, decimal-exact. See
    :func:`maston_spark.relational.group_trend`."""
    from maston_spark.relational import group_trend

    e = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    return group_trend(e, "user_id", "ts", "value")


@query(
    "q134_quantile_bins",
    oracle="""
    WITH e AS (SELECT quantile_cont(l_extendedprice,
                 [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
               FROM lineitem),
    b AS (SELECT l_extendedprice AS x,
                 CAST(len(list_filter(qs, q -> x > q)) AS INT) AS bin
          FROM lineitem, e
          WHERE l_extendedprice IS NOT NULL)
    SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_val, max(x) AS max_val
    FROM b GROUP BY bin ORDER BY bin
    """,
)
def q134_quantile_bins(spark, sf_dir):
    """Decile binning of lineitem prices (equal-frequency
    discretization). See
    :func:`maston_spark.relational.quantile_bins`."""
    from maston_spark.relational import quantile_bins

    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    return quantile_bins(li, "l_extendedprice", n_bins=10)


@query(
    "q135_attribution",
    oracle="""
    WITH c AS (
      SELECT event_type, ts,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER w AS touch,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN ts END IGNORE NULLS)
               OVER w AS touch_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    conv AS (
      SELECT coalesce(CASE WHEN touch_ts >= ts - INTERVAL 7 DAY
                           THEN touch END, '(none)') AS attributed_to
      FROM c WHERE event_type = 'purchase'),
    g AS (SELECT attributed_to, CAST(count(*) AS BIGINT) AS n_conversions
          FROM conv GROUP BY 1),
    t AS (SELECT sum(n_conversions) AS tt FROM g)
    SELECT attributed_to, n_conversions,
           round(n_conversions / CAST(tt AS DOUBLE), 6) AS conversion_share
    FROM g, t ORDER BY attributed_to
    """,
)
def q135_attribution(spark, sf_dir):
    """Last-touch purchase attribution over the event stream
    (click/view touches, 7-day lookback) — an as-of join expressed as
    one user-partitioned window, no self-join. See
    :func:`maston_spark.relational.last_touch_attribution`."""
    from maston_spark.relational import last_touch_attribution

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    return last_touch_attribution(
        e, "user_id", "event_type", "purchase", ["click", "view"],
        order_cols=("ts", "event_id"), lookback_days=7,
    )


@query(
    "q136_bpe_merges",
    oracle="""
    WITH t0 AS (SELECT ' ' || text || ' ' AS s FROM documents),
    p1 AS (SELECT toks[i] || ' ' || toks[i + 1] AS pair, count(*) AS c
           FROM (SELECT string_split(trim(s), ' ') AS toks FROM t0),
                LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
           GROUP BY 1),
    b1 AS (SELECT pair, c FROM p1 ORDER BY c DESC, pair LIMIT 1),
    t1 AS (SELECT replace(s, ' ' || (SELECT pair FROM b1) || ' ',
                          ' ' || replace((SELECT pair FROM b1), ' ', '+') || ' ')
                  AS s FROM t0),
    p2 AS (SELECT toks[i] || ' ' || toks[i + 1] AS pair, count(*) AS c
           FROM (SELECT string_split(trim(s), ' ') AS toks FROM t1),
                LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
           GROUP BY 1),
    b2 AS (SELECT pair, c FROM p2 ORDER BY c DESC, pair LIMIT 1),
    t2 AS (SELECT replace(s, ' ' || (SELECT pair FROM b2) || ' ',
                          ' ' || replace((SELECT pair FROM b2), ' ', '+') || ' ')
                  AS s FROM t1),
    p3 AS (SELECT toks[i] || ' ' || toks[i + 1] AS pair, count(*) AS c
           FROM (SELECT string_split(trim(s), ' ') AS toks FROM t2),
                LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
           GROUP BY 1),
    b3 AS (SELECT pair, c FROM p3 ORDER BY c DESC, pair LIMIT 1)
    SELECT * FROM (
      SELECT CAST(1 AS INT) AS step, pair, CAST(c AS BIGINT) AS pair_count FROM b1
      UNION ALL
      SELECT CAST(2 AS INT), pair, CAST(c AS BIGINT) FROM b2
      UNION ALL
      SELECT CAST(3 AS INT), pair, CAST(c AS BIGINT) FROM b3)
    ORDER BY step
    """,
)
def q136_bpe_merges(spark, sf_dir):
    """Three rounds of BPE merge training over the corpus — the
    iterative tokenizer-training step (pair count -> top merge ->
    refuse, repeat). See :func:`maston_spark.llm.text.bpe_merges`."""
    d = load_table(spark, sf_dir, "documents").select("text")
    return TXT.bpe_merges(d, n_merges=3)


@query(
    "q137_source_overlap",
    oracle="""
    WITH st AS (SELECT DISTINCT source, w FROM (
            SELECT source, unnest(string_split(text, ' ')) AS w
            FROM documents) u
          WHERE w <> ''),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab
              FROM st GROUP BY 1),
    inter AS (SELECT a.source AS source_a, b.source AS source_b,
                     CAST(count(*) AS BIGINT) AS n_shared
              FROM st a JOIN st b ON a.w = b.w AND a.source < b.source
              GROUP BY 1, 2)
    SELECT source_a, source_b, sa.vocab AS vocab_a, sb.vocab AS vocab_b,
           n_shared,
           round(CAST(n_shared AS DOUBLE)
                 / (sa.vocab + sb.vocab - n_shared), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
)
def q137_source_overlap(spark, sf_dir):
    """Pairwise vocabulary Jaccard between sources (which corpora
    are near-copies? — the mixing-weights pre-flight). See
    :func:`maston_spark.llm.text.source_vocab_overlap`."""
    d = load_table(spark, sf_dir, "documents").select("source", "text")
    return TXT.source_vocab_overlap(d)


@query(
    "q138_label_centroids",
    oracle="""
    WITH x AS (SELECT label, gs - 1 AS dim, CAST(embedding[gs] AS DOUBLE) AS x
               FROM embeddings,
                    LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS gs) t),
    cent AS (SELECT label, dim,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CAST(round(x, 9) AS DECIMAL(38,9))) AS DOUBLE)
                      / count(*) AS c
             FROM x GROUP BY 1, 2),
    norms AS (SELECT label,
                     sum(CAST(round(c * c, 9) AS DECIMAL(38,9))) AS nrm,
                     max(n) AS n_vectors
              FROM cent GROUP BY 1),
    dots AS (SELECT a.label AS label_a, b.label AS label_b,
                    sum(CAST(round(a.c * b.c, 9) AS DECIMAL(38,9))) AS dot
             FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
             GROUP BY 1, 2)
    SELECT label_a, label_b,
           CAST(na.n_vectors AS BIGINT) AS n_a,
           CAST(nb.n_vectors AS BIGINT) AS n_b,
           CASE WHEN na.nrm > 0 AND nb.nrm > 0 THEN
             round(CAST(dot AS DOUBLE)
                   / sqrt(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)), 6)
             + 0.0
           END AS cosine
    FROM dots
    JOIN norms na ON na.label = label_a
    JOIN norms nb ON nb.label = label_b
    ORDER BY label_a, label_b
    """,
)
def q138_label_centroids(spark, sf_dir):
    """Per-label centroid pairwise cosine (class-separation audit
    before label-stratified sampling). See
    :func:`maston_spark.llm.similarity.label_centroid_similarity`."""
    e = load_table(spark, sf_dir, "embeddings").select("label", "embedding")
    return SIM.label_centroid_similarity(e)


@query(
    "q139_gapfill",
    oracle="""
    WITH b AS (SELECT event_type AS series,
                      time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                      CAST(count(*) AS BIGINT) AS n,
                      round(CAST(sum(CAST(round(value, 9) AS DECIMAL(38,9)))
                                 AS DOUBLE), 4) + 0.0 AS sum_value
               FROM events GROUP BY 1, 2),
    r AS (SELECT series, min(bucket) AS lo, max(bucket) AS hi
          FROM b GROUP BY 1),
    f AS (SELECT series, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                   AS bucket
          FROM r),
    j AS (SELECT f.series, f.bucket, b.n, b.sum_value
          FROM f LEFT JOIN b ON b.series = f.series AND b.bucket = f.bucket)
    SELECT series, bucket,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           sum_value,
           (n IS NULL) AS is_gap,
           last_value(sum_value IGNORE NULLS) OVER (
             PARTITION BY series ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_sum
    FROM j
    """,
)
def q139_gapfill(spark, sf_dir):
    """Hourly gap-fill with LOCF over the event stream (TimescaleDB
    time_bucket_gapfill shape). See
    :func:`maston_spark.relational.gapfill_locf`."""
    from maston_spark.relational import gapfill_locf

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return gapfill_locf(ev, "event_type", "ts", "value", bucket="1 hour")


@query(
    "q141_data_quality",
    oracle="""
    WITH rep AS (
      SELECT 'accepted_values:lang' AS rule,
             (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
             (SELECT CAST(count(*) AS BIGINT) FROM documents
              WHERE lang IS NOT NULL
                AND lang NOT IN ('en', 'es', 'de', 'fr')) AS n_violations
      UNION ALL
      SELECT 'foreign_key:l_orderkey',
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
             (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
              WHERE l_orderkey IS NOT NULL
                AND NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'not_null:text',
             (SELECT CAST(count(*) AS BIGINT) FROM documents),
             (SELECT CAST(count(*) AS BIGINT) FROM documents
              WHERE text IS NULL)
      UNION ALL
      SELECT 'range:n_chars',
             (SELECT CAST(count(*) AS BIGINT) FROM documents),
             (SELECT CAST(count(*) AS BIGINT) FROM documents
              WHERE n_chars < 0 OR n_chars > 300)
      UNION ALL
      SELECT 'unique:doc_id',
             (SELECT CAST(count(*) AS BIGINT) FROM documents),
             (SELECT CAST(count(*) - count(DISTINCT doc_id) AS BIGINT)
              FROM documents))
    SELECT rule, n_rows, n_violations, (n_violations = 0) AS passed
    FROM rep ORDER BY rule
    """,
)
def q141_data_quality(spark, sf_dir):
    """Deequ-style declarative constraint report over the corpus
    snapshot plus a cross-table referential check — the promotion
    gate of a curation pipeline. See
    :func:`maston_spark.profiling.constraint_report`."""
    from maston_spark.profiling import constraint_report

    docs = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    doc_report = constraint_report(
        docs,
        [
            {"kind": "unique", "cols": ["doc_id"]},
            {"kind": "not_null", "col": "text"},
            {"kind": "range", "col": "n_chars", "min": 0, "max": 300},
            {
                "kind": "accepted_values",
                "col": "lang",
                "values": ["en", "es", "de", "fr"],
            },
        ],
    )
    fk_report = constraint_report(
        li,
        [{"kind": "foreign_key", "col": "l_orderkey", "ref": orders,
          "ref_col": "o_orderkey"}],
    )
    return doc_report.unionByName(fk_report).orderBy("rule")


@query(
    "q142_ann_recall",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
    esims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, c.v) AS s
      FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id) AS rn
        FROM esims) WHERE rn <= 3),
    comp AS (
      SELECT p, d,
             CASE WHEN substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
                  THEN 1.0 ELSE -1.0 END AS w
      FROM range(0, 6) r1(p) CROSS JOIN range(0, 64) r2(d)),
    dots AS (
      SELECT c.vec_id, comp.p, sum(c.v[comp.d + 1] * comp.w) AS dp
      FROM c CROSS JOIN comp GROUP BY 1, 2),
    buck AS (
      SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN CAST(pow(2, p) AS INT) ELSE 0 END) AS INT) AS bucket
      FROM dots GROUP BY 1),
    cb AS (SELECT c.vec_id, c.v, b.bucket FROM c JOIN buck b USING (vec_id)),
    qb AS (SELECT vec_id AS query_id, v AS qv, bucket FROM cb WHERE vec_id < 10),
    asims AS (
      SELECT qb.query_id, cb.vec_id AS neighbor_id,
             list_cosine_similarity(qb.qv, cb.v) AS s
      FROM cb JOIN qb USING (bucket) WHERE cb.vec_id <> qb.query_id),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id) AS rn
        FROM asims) WHERE rn <= 3)
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6) AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def q142_ann_recall(spark, sf_dir):
    """Recall@3 of the sign-LSH ANN path against the exact top-3
    baseline (the harness that qualifies an ANN config before it
    replaces the exact scan). See
    :func:`maston_spark.llm.similarity.ann_recall`."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ann_recall(
        emb, query_ids=list(range(10)), k=3, n_planes=6, dims=64
    )


@query(
    "q144_multiprobe_recall",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
    esims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, c.v) AS s
      FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id) AS rn
        FROM esims) WHERE rn <= 3),
    comp AS (
      SELECT p, d,
             CASE WHEN substring(md5(p::VARCHAR || ':' || d::VARCHAR), 1, 1) >= '8'
                  THEN 1.0 ELSE -1.0 END AS w
      FROM range(0, 6) r1(p) CROSS JOIN range(0, 64) r2(d)),
    dots AS (
      SELECT c.vec_id, comp.p, sum(c.v[comp.d + 1] * comp.w) AS dp
      FROM c CROSS JOIN comp GROUP BY 1, 2),
    buck AS (
      SELECT vec_id, CAST(sum(CASE WHEN dp > 0 THEN CAST(pow(2, p) AS INT) ELSE 0 END) AS INT) AS bucket
      FROM dots GROUP BY 1),
    cb AS (SELECT c.vec_id, c.v, b.bucket FROM c JOIN buck b USING (vec_id)),
    qb AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
           FROM cb WHERE vec_id < 10),
    asims AS (
      SELECT qb.query_id, cb.vec_id AS neighbor_id,
             list_cosine_similarity(qb.qv, cb.v) AS s
      FROM cb JOIN qb
        ON bit_count(xor(cb.bucket::BIGINT, qb.qbucket::BIGINT)) <= 1
      WHERE cb.vec_id <> qb.query_id),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id) AS rn
        FROM asims) WHERE rn <= 3)
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6) AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def q144_multiprobe_recall(spark, sf_dir):
    """Recall@3 of MULTI-PROBE sign-LSH (probing every bucket within
    Hamming distance 1 of the query's) against the exact baseline —
    paired with q142's single-bucket recall, this measures what one
    probe level buys. See
    :func:`maston_spark.llm.similarity.ann_recall` with
    ``max_hamming=1``."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.ann_recall(
        emb, query_ids=list(range(10)), k=3, n_planes=6, dims=64, max_hamming=1
    )


@query(
    "q145_int8_recall",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < 10),
    esims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.qv, c.v) AS s
      FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY s DESC, neighbor_id) AS rn
        FROM esims) WHERE rn <= 3),
    vz AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax
           FROM c),
    qz AS (SELECT vec_id,
             list_transform(v, x -> CAST(round(x / (amax / 127.0)) AS BIGINT))
               AS qv8
           FROM vz WHERE amax > 0),
    qq AS (SELECT vec_id AS query_id, qv8 AS qq8 FROM qz WHERE vec_id < 10),
    dots AS (
      SELECT qq.query_id, cz.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(list_zip(cz.qv8, qq.qq8),
                                          p -> p[1] * p[2])) AS BIGINT) AS dot
      FROM qz cz CROSS JOIN qq WHERE cz.vec_id <> qq.query_id),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, neighbor_id) AS rn
        FROM dots) WHERE rn <= 3)
    SELECT e.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           round(CAST(count(a.neighbor_id) AS DOUBLE) / count(*), 6) AS recall
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """,
)
def q145_int8_recall(spark, sf_dir):
    """Recall@3 of int8-quantized integer-dot retrieval (exact int64
    scoring over q83's absmax quantization) against the exact float
    cosine baseline — the ranking cost of 4x vector compression. See
    :func:`maston_spark.llm.similarity.int8_recall`."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.int8_recall(emb, query_ids=list(range(10)), k=3)


@query(
    "q146_gapfill_interp",
    oracle="""
    WITH b AS (SELECT event_type AS series,
                      time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                      CAST(count(*) AS BIGINT) AS n,
                      round(CAST(sum(CAST(round(value, 9) AS DECIMAL(38,9)))
                                 AS DOUBLE), 4) + 0.0 AS sum_value
               FROM events GROUP BY 1, 2),
    r AS (SELECT series, min(bucket) AS lo, max(bucket) AS hi
          FROM b GROUP BY 1),
    f AS (SELECT series, unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
                   AS bucket
          FROM r),
    j AS (SELECT f.series, f.bucket, b.n, b.sum_value
          FROM f LEFT JOIN b ON b.series = f.series AND b.bucket = f.bucket),
    wv AS (
      SELECT series, bucket,
             CAST(coalesce(n, 0) AS BIGINT) AS n_events,
             sum_value,
             (n IS NULL) AS is_gap,
             last_value(sum_value IGNORE NULLS) OVER w1 AS locf_sum,
             last_value(CASE WHEN n IS NOT NULL THEN bucket END
                        IGNORE NULLS) OVER w1 AS pb,
             first_value(sum_value IGNORE NULLS) OVER w2 AS nv,
             first_value(CASE WHEN n IS NOT NULL THEN bucket END
                         IGNORE NULLS) OVER w2 AS nb
      FROM j
      WINDOW w1 AS (PARTITION BY series ORDER BY bucket
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY series ORDER BY bucket
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT series, bucket, n_events, sum_value, is_gap, locf_sum,
           CASE WHEN n_events > 0 THEN sum_value
                ELSE locf_sum + (nv - locf_sum)
                     * ((epoch(bucket) - epoch(pb))
                        / (epoch(nb) - epoch(pb)))
           END AS interp_sum
    FROM wv
    """,
)
def q146_gapfill_interp(spark, sf_dir):
    """Gap-fill with LOCF plus linear interpolation between the
    surrounding observations (TimescaleDB `interpolate`). See
    :func:`maston_spark.relational.gapfill_locf` with
    ``interpolate=True``."""
    from maston_spark.relational import gapfill_locf

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    return gapfill_locf(
        ev, "event_type", "ts", "value", bucket="1 hour", interpolate=True
    )


from maston_spark.queries import REGISTRY as _REG  # noqa: E402

_CCNET_ORACLE = f"""
    WITH scored AS ({_REG["q96_bigram_perplexity"].oracle}),
    e AS (SELECT quantile_cont(bits_per_bigram,
            [0.3333333333333333, 0.6666666666666666]) AS qs
          FROM scored)
    SELECT doc_id, n_bigrams, bits_per_bigram, ppl,
           CASE WHEN bits_per_bigram > qs[2] THEN 'tail'
                WHEN bits_per_bigram > qs[1] THEN 'middle'
                ELSE 'head' END AS ccnet_bucket
    FROM scored, e
    """


@query("q147_ccnet_buckets", oracle=_CCNET_ORACLE)
def q147_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity terciles over the corpus
    (the canonical LM-based curation gate). See
    :func:`maston_spark.llm.text.ccnet_buckets`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.ccnet_buckets(d)


@query(
    "q148_gopher_gate",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, len(toks) AS n_tokens,
                 round(list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                       / len(toks), 6) AS avg_token_len,
                 round(len(list_filter(toks,
                         x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                       / len(toks), 6) AS stopword_ratio
          FROM t),
    b AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                                       i -> toks[i] || ' ' || toks[i+1])) AS bigram
          FROM t WHERE len(toks) >= 2),
    c AS (SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY 1, 2),
    r AS (SELECT doc_id,
                 round(max(cnt)::DOUBLE / sum(cnt), 6) AS top_bigram_frac,
                 round(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END)::DOUBLE
                       / sum(cnt), 6) AS dup_bigram_frac
          FROM c GROUP BY 1),
    j AS (SELECT s.doc_id, n_tokens, avg_token_len, stopword_ratio,
                 coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
                 coalesce(dup_bigram_frac, 0.0) AS dup_bigram_frac
          FROM s LEFT JOIN r ON r.doc_id = s.doc_id),
    g AS (SELECT *,
                 list_filter([
                   CASE WHEN n_tokens < 20 THEN 'too_few_tokens' END,
                   CASE WHEN n_tokens > 100000 THEN 'too_many_tokens' END,
                   CASE WHEN avg_token_len < 3.0 THEN 'avg_token_len_low' END,
                   CASE WHEN avg_token_len > 10.0 THEN 'avg_token_len_high' END,
                   CASE WHEN stopword_ratio < 0.02 THEN 'stopword_ratio_low' END,
                   CASE WHEN top_bigram_frac > 0.08 THEN 'top_bigram_frac_high' END,
                   CASE WHEN dup_bigram_frac > 0.10 THEN 'dup_bigram_frac_high' END
                 ], x -> x IS NOT NULL) AS fail_reasons
          FROM j)
    SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
           top_bigram_frac, dup_bigram_frac,
           coalesce(array_to_string(fail_reasons, ','), '') AS fail_reasons,
           (len(fail_reasons) = 0) AS keep
    FROM g
    """,
)
def q148_gopher_gate(spark, sf_dir):
    """Gopher rule-battery quality gate: per-doc keep/drop verdict
    with the ordered fail-reason list. See
    :func:`maston_spark.llm.text.gopher_gate`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.gopher_gate(d)


@query(
    "q149_k_anonymity",
    oracle="""
    SELECT c_mktsegment, c_nationkey,
           CAST(count(*) AS BIGINT) AS class_size,
           (count(*) < 10) AS at_risk
    FROM customer
    GROUP BY c_mktsegment, c_nationkey
    ORDER BY c_mktsegment, c_nationkey
    """,
)
def q149_k_anonymity(spark, sf_dir):
    """k-anonymity audit over (mktsegment, nationkey) quasi-
    identifiers: equivalence classes smaller than k=10 are
    re-identification risks. See
    :func:`maston_spark.profiling.k_anonymity_report`."""
    from maston_spark.profiling import k_anonymity_report

    c = load_table(spark, sf_dir, "customer")
    return k_anonymity_report(c, ["c_mktsegment", "c_nationkey"], k=10)


@query(
    "q150_pq_codes",
    oracle="""
    WITH e AS (SELECT vec_id AS id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    sub AS (SELECT id, s, v[(s*8+1):(s*8+8)] AS sv
            FROM e, range(0, 8) t(s)),
    ids AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) AS cid, id
            FROM (SELECT id FROM e ORDER BY id LIMIT 4)),
    c0 AS (SELECT sub.s, ids.cid, sub.sv AS c FROM sub JOIN ids USING (id)),
    p1 AS (SELECT sub.id, sub.s, sub.sv, c0.cid,
                  round(list_sum(list_transform(range(1, 9),
                        i -> (sub.sv[i] - c0.c[i]) * (sub.sv[i] - c0.c[i]))), 9)
                    AS d
           FROM sub JOIN c0 ON c0.s = sub.s),
    a1 AS (SELECT id, s, sv, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY id, s
                                          ORDER BY d, cid) AS rn
             FROM p1) WHERE rn = 1),
    dims AS (SELECT s, cid, i - 1 AS dim, sv[i] AS x
             FROM a1, LATERAL (SELECT unnest(range(1, 9)) AS i) t),
    upd AS (SELECT s, cid, dim,
                   round(CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9)))
                         AS DOUBLE) / count(*), 9) AS mval
            FROM dims GROUP BY 1, 2, 3),
    c1 AS (SELECT s, cid, list(mval ORDER BY dim) AS c FROM upd GROUP BY 1, 2),
    p2 AS (SELECT sub.id, sub.s, c1.cid,
                  round(list_sum(list_transform(range(1, 9),
                        i -> (sub.sv[i] - c1.c[i]) * (sub.sv[i] - c1.c[i]))), 9)
                    AS d
           FROM sub JOIN c1 ON c1.s = sub.s)
    SELECT id AS vec_id, s AS subspace, cid AS code,
           round(d, 6) + 0.0 AS sq_dist
    FROM (SELECT *, row_number() OVER (PARTITION BY id, s
                                       ORDER BY d, cid) AS rn
          FROM p2) WHERE rn = 1
    ORDER BY vec_id, subspace
    """,
)
def q150_pq_codes(spark, sf_dir):
    """Product-quantization encode (Jégou et al. 2011): 8 subspaces
    x 4-centroid codebooks, one deterministic Lloyd iteration — the
    PQ half of IVF-PQ. See
    :func:`maston_spark.llm.similarity.pq_codes`."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.pq_codes(emb, m=8, sub_dim=8, k=4)


_E_CTE = """
    WITH e AS (SELECT vec_id AS id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings)"""

# PQ training CTE chain (assumes `e` is already defined): subvector
# explode -> seed codebooks -> one Lloyd iteration -> final codes.
_PQ_CTES = """
    sub AS (SELECT id, s, v[(s*8+1):(s*8+8)] AS sv
            FROM e, range(0, 8) t(s)),
    ids AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) AS cid, id
            FROM (SELECT id FROM e ORDER BY id LIMIT 4)),
    c0 AS (SELECT sub.s, ids.cid, sub.sv AS c FROM sub JOIN ids USING (id)),
    p1 AS (SELECT sub.id, sub.s, sub.sv, c0.cid,
                  round(list_sum(list_transform(range(1, 9),
                        i -> (sub.sv[i] - c0.c[i]) * (sub.sv[i] - c0.c[i]))), 9)
                    AS d
           FROM sub JOIN c0 ON c0.s = sub.s),
    a1 AS (SELECT id, s, sv, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY id, s
                                          ORDER BY d, cid) AS rn
             FROM p1) WHERE rn = 1),
    dims AS (SELECT s, cid, i - 1 AS dim, sv[i] AS x
             FROM a1, LATERAL (SELECT unnest(range(1, 9)) AS i) t),
    upd AS (SELECT s, cid, dim,
                   round(CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9)))
                         AS DOUBLE) / count(*), 9) AS mval
            FROM dims GROUP BY 1, 2, 3),
    c1 AS (SELECT s, cid, list(mval ORDER BY dim) AS c FROM upd GROUP BY 1, 2),
    p2 AS (SELECT sub.id, sub.s, c1.cid,
                  round(list_sum(list_transform(range(1, 9),
                        i -> (sub.sv[i] - c1.c[i]) * (sub.sv[i] - c1.c[i]))), 9)
                    AS d
           FROM sub JOIN c1 ON c1.s = sub.s),
    codes AS (SELECT id, s, cid FROM (
                SELECT *, row_number() OVER (PARTITION BY id, s
                                             ORDER BY d, cid) AS rn
                FROM p2) WHERE rn = 1)
"""

_PQ_TRAIN_SQL = _E_CTE + "," + _PQ_CTES

# IVF-PQ shared oracle half: coarse k-means cells (the q119 chain,
# k=4 / 2 iterations, CTEs prefixed k*), per-query nprobe=2 probes
# against the SAME final centroids, candidate pairs, then the PQ
# chain and the per-candidate ADC sums.
_IVFPQ_CTES = _E_CTE + """,
    kc0 AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) AS cid, v AS c
            FROM (SELECT id, v FROM e ORDER BY id LIMIT 4)),
    kp1 AS (SELECT e.id, e.v, kc0.cid,
                   round(list_sum(list_transform(range(1, len(e.v) + 1),
                         i -> (e.v[i] - kc0.c[i]) * (e.v[i] - kc0.c[i]))), 9)
                     AS d
            FROM e, kc0),
    ka1 AS (SELECT id, v, cid FROM (
              SELECT *, row_number() OVER (PARTITION BY id
                                           ORDER BY d, cid) AS rn
              FROM kp1) WHERE rn = 1),
    kdims AS (SELECT cid, i - 1 AS dim, v[i] AS x
              FROM ka1, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) t),
    kupd AS (SELECT cid, dim,
                    round(CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9)))
                          AS DOUBLE) / count(*), 9) AS mval
             FROM kdims GROUP BY 1, 2),
    kc1 AS (SELECT cid, list(mval ORDER BY dim) AS c FROM kupd GROUP BY cid),
    kp2 AS (SELECT e.id, kc1.cid,
                   round(list_sum(list_transform(range(1, len(e.v) + 1),
                         i -> (e.v[i] - kc1.c[i]) * (e.v[i] - kc1.c[i]))), 9)
                     AS d
            FROM e, kc1),
    cells AS (SELECT id, cid AS cell FROM (
                SELECT *, row_number() OVER (PARTITION BY id
                                             ORDER BY d, cid) AS rn
                FROM kp2) WHERE rn = 1),
    probes AS (SELECT id AS query_id, cid AS cell FROM (
                 SELECT *, row_number() OVER (PARTITION BY id
                                              ORDER BY d, cid) AS rn
                 FROM kp2 WHERE id < 10) WHERE rn <= 2),
    cand AS (SELECT p.query_id, c.id AS nid, c.cell
             FROM probes p JOIN cells c USING (cell)
             WHERE c.id <> p.query_id),""" + _PQ_CTES + """,
    qt AS (SELECT q.id AS query_id, c1.s, c1.cid,
                  round(list_sum(list_transform(range(1, 9),
                        i -> (q.sv[i] - c1.c[i]) * (q.sv[i] - c1.c[i]))), 9)
                    AS qd
           FROM (SELECT id, s, sv FROM sub WHERE id < 10) q
           JOIN c1 ON c1.s = q.s),
    adc AS (SELECT cand.query_id, cand.nid AS neighbor_id, cand.cell,
                   CAST(sum(CAST(qd AS DECIMAL(38,9))) AS DOUBLE) AS dist
            FROM cand
            JOIN codes ON codes.id = cand.nid
            JOIN qt ON qt.query_id = cand.query_id
                   AND qt.s = codes.s AND qt.cid = codes.cid
            GROUP BY 1, 2, 3)
"""


@query(
    "q151_pq_adc",
    oracle=_PQ_TRAIN_SQL
    + """
    , qt AS (SELECT q.id AS query_id, c1.s, c1.cid,
                    round(list_sum(list_transform(range(1, 9),
                          i -> (q.sv[i] - c1.c[i]) * (q.sv[i] - c1.c[i]))), 9)
                      AS qd
             FROM (SELECT id, s, sv FROM sub WHERE id < 10) q
             JOIN c1 ON c1.s = q.s),
    adc AS (SELECT qt.query_id, codes.id AS neighbor_id,
                   CAST(sum(CAST(qd AS DECIMAL(38,9))) AS DOUBLE) AS dist
            FROM codes JOIN qt ON qt.s = codes.s AND qt.cid = codes.cid
            WHERE codes.id <> qt.query_id
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id, round(dist, 6) + 0.0 AS adc_dist, rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY dist, neighbor_id) AS rn
          FROM adc) WHERE rn <= 3
    ORDER BY query_id, rn
    """,
)
def q151_pq_adc(spark, sf_dir):
    """Asymmetric-distance top-3 over PQ codes (the search half of
    IVF-PQ: per-query m x k distance table, candidates scored by m
    table lookups on their stored codes). See
    :func:`maston_spark.llm.similarity.pq_adc_topk`."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.pq_adc_topk(emb, query_ids=list(range(10)), k_neighbors=3)


_REPORT_CORPUS_SQL = """WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000, text || ' xyz xyz xyz' FROM documents
  WHERE doc_id % 5 = 0),"""

_REPORT_TAIL_SQL = """, nd AS (
      SELECT DISTINCT id_b AS id FROM jac WHERE jaccard >= 0.2),
    eh AS (
      SELECT id,
             row_number() OVER (
               PARTITION BY md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
               ORDER BY id) AS rn
      FROM corpus),
    rep AS (
      SELECT eh.id,
             CASE WHEN eh.id >= 2000000 THEN 'planted_near'
                  WHEN eh.id >= 1000000 THEN 'planted_exact'
                  ELSE 'original' END AS band,
             CASE WHEN eh.rn > 1 THEN 1 ELSE 0 END AS is_exact_dup,
             CASE WHEN nd.id IS NOT NULL THEN 1 ELSE 0 END AS is_near_dup
      FROM eh LEFT JOIN nd ON nd.id = eh.id)
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_exact_dup) AS BIGINT) AS n_exact_dup_docs,
           CAST(sum(is_near_dup) AS BIGINT) AS n_neardup_docs,
           round(sum(is_exact_dup)::DOUBLE / count(*), 6) AS exact_dup_rate,
           round(sum(is_near_dup)::DOUBLE / count(*), 6) AS neardup_rate
    FROM rep GROUP BY band ORDER BY band"""


@query(
    "q152_dedup_report",
    oracle=_MINHASH_ORACLE.replace(
        """WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' xyz xyz xyz' FROM documents WHERE doc_id % 5 = 0),""",
        _REPORT_CORPUS_SQL,
    ).replace(
        "SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.2",
        _REPORT_TAIL_SQL,
    ),
)
def q152_dedup_report(spark, sf_dir):
    """Dedup-effectiveness report — the dashboard a curation run
    actually produces: over a corpus with PLANTED exact duplicates
    (every 7th doc re-ingested) and near duplicates (every 5th doc
    with 3 tokens appended), report per provenance band how many
    docs the exact-hash and MinHash near-dup detectors flag. The
    planted bands must light up (~100% exact rate on re-ingested
    copies, high near-dup rate on mutations) while the original
    band stays low — the self-check that the dedup battery works
    before trusting it on unlabeled data.

    Distributed shape: composes the verified q40/q41 pipelines —
    one content-hash window, one persisted minhash signature table —
    and reduces to |bands| rows with a combiner agg; nothing new
    shuffles beyond the component operators.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact_planted = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near_planted = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" xyz xyz xyz")).alias("text"),
    )
    corpus = d.unionByName(exact_planted).unionByName(near_planted)

    w = Window.partitionBy(DD.content_hash(F.col("text"))).orderBy("doc_id")
    eh = corpus.select(
        "doc_id",
        (F.row_number().over(w) > 1).cast("int").alias("is_exact_dup"),
    )
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    pairs = DD.jaccard_from_lanes(mf, cands, threshold=0.2)
    nd = pairs.select(F.col("id_b").alias("doc_id")).distinct().withColumn(
        "__nd", F.lit(1)
    )
    band = (
        F.when(F.col("doc_id") >= 2000000, F.lit("planted_near"))
        .when(F.col("doc_id") >= 1000000, F.lit("planted_exact"))
        .otherwise(F.lit("original"))
    )
    return (
        eh.join(nd, "doc_id", "left")
        .select(
            band.alias("band"),
            "is_exact_dup",
            F.coalesce("__nd", F.lit(0)).alias("is_near_dup"),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_exact_dup").cast("long").alias("n_exact_dup_docs"),
            F.sum("is_near_dup").cast("long").alias("n_neardup_docs"),
            F.round(
                F.sum("is_exact_dup") / F.count(F.lit(1)), 6
            ).alias("exact_dup_rate"),
            F.round(
                F.sum("is_near_dup") / F.count(F.lit(1)), 6
            ).alias("neardup_rate"),
        )
        .orderBy("band")
    )


# Residual IVF-PQ oracle: the q153 chain, with the PQ half trained on
# r = x − centroid(cell(x)) and the query ADC tables built per
# (query, probed cell) from the query's cell-relative residual.
_IVFPQ_RES_CTES = _IVFPQ_CTES.split(_PQ_CTES)[0] + """
    res AS (SELECT cells.id,
                   list_transform(range(1, len(e.v) + 1),
                                  i -> e.v[i] - kc1.c[i]) AS v
            FROM cells JOIN e USING (id) JOIN kc1 ON kc1.cid = cells.cell),
""" + _PQ_CTES.replace(
    "FROM e, range(0, 8) t(s)", "FROM res, range(0, 8) t(s)"
) + """,
    qres AS (SELECT p.query_id, p.cell,
                    list_transform(range(1, len(e.v) + 1),
                                   i -> e.v[i] - kc1.c[i]) AS v
             FROM probes p JOIN e ON e.id = p.query_id
             JOIN kc1 ON kc1.cid = p.cell),
    qsub AS (SELECT query_id, cell, s, v[(s*8+1):(s*8+8)] AS sv
             FROM qres, range(0, 8) t(s)),
    qt AS (SELECT q.query_id, q.cell, c1.s, c1.cid,
                  round(list_sum(list_transform(range(1, 9),
                        i -> (q.sv[i] - c1.c[i]) * (q.sv[i] - c1.c[i]))), 9)
                    AS qd
           FROM qsub q JOIN c1 ON c1.s = q.s),
    adc AS (SELECT cand.query_id, cand.nid AS neighbor_id, cand.cell,
                   CAST(sum(CAST(qd AS DECIMAL(38,9))) AS DOUBLE) AS dist
            FROM cand
            JOIN codes ON codes.id = cand.nid
            JOIN qt ON qt.query_id = cand.query_id AND qt.cell = cand.cell
                   AND qt.s = codes.s AND qt.cid = codes.cid
            GROUP BY 1, 2, 3)
"""


@query(
    "q158_ivfpq_residual",
    oracle=_IVFPQ_RES_CTES
    + """
    SELECT query_id, neighbor_id, cell, round(dist, 6) + 0.0 AS adc_dist, rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY dist, neighbor_id) AS rn
          FROM adc) WHERE rn <= 3
    ORDER BY query_id, rn
    """,
)
def q158_ivfpq_residual(spark, sf_dir):
    """Residual-encoded IVF-PQ (the Jégou et al. 2011 formulation
    faiss's IndexIVFPQ implements): vectors PQ-encode their residual
    against their cell centroid, and each query builds one ADC table
    per probed cell from its cell-relative residual. q153 is the
    raw-encoding sibling. See
    :func:`maston_spark.llm.similarity.ivf_pq_residual_topk`."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.ivf_pq_residual_topk(emb, query_ids=list(range(10)))


@query(
    "q153_ivf_pq",
    oracle=_IVFPQ_CTES
    + """
    SELECT query_id, neighbor_id, cell, round(dist, 6) + 0.0 AS adc_dist, rn
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY dist, neighbor_id) AS rn
          FROM adc) WHERE rn <= 3
    ORDER BY query_id, rn
    """,
)
def q153_ivf_pq(spark, sf_dir):
    """IVF-PQ ANN: Lloyd-trained coarse cells (4, 2 iterations) prune
    to 2 probed cells per query; candidates scored by asymmetric
    distance over 8x4 PQ codebooks — the composed 100 TB index
    (cells partition the table, search reads codes only). See
    :func:`maston_spark.llm.similarity.ivf_pq_topk`."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.ivf_pq_topk(
        emb, query_ids=list(range(10)), k_neighbors=3,
        n_cells=4, nprobe=2, iterations=2, m=8, sub_dim=8, k=4,
    )


@query(
    "q154_ivfpq_recall",
    oracle=_IVFPQ_CTES
    + """
    , ex AS (SELECT a.id AS query_id, b.id AS neighbor_id,
                    round(list_sum(list_transform(range(1, len(a.v) + 1),
                          i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))), 9) AS d
             FROM (SELECT * FROM e WHERE id < 10) a
             JOIN e b ON b.id <> a.id),
    ext AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY d, neighbor_id) AS rn
              FROM ex) WHERE rn <= 3),
    fl0 AS (SELECT cand.query_id, cand.nid,
                   round(list_sum(list_transform(range(1, len(cv.v) + 1),
                         i -> (cv.v[i] - qv.v[i]) * (cv.v[i] - qv.v[i]))), 9)
                     AS fd
            FROM cand
            JOIN e cv ON cv.id = cand.nid
            JOIN e qv ON qv.id = cand.query_id),
    fl AS (SELECT query_id, nid AS neighbor_id, 1 AS fmark FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY fd, nid) AS rn
             FROM fl0) WHERE rn <= 3),
    pq AS (SELECT query_id, neighbor_id, 1 AS pmark FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY dist, neighbor_id) AS rn
             FROM adc) WHERE rn <= 3)
    SELECT ext.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(fmark) AS BIGINT) AS hits_flat,
           round(count(fmark) / CAST(count(*) AS DOUBLE), 6) AS recall_flat,
           CAST(count(pmark) AS BIGINT) AS hits_pq,
           round(count(pmark) / CAST(count(*) AS DOUBLE), 6) AS recall_pq
    FROM ext
    LEFT JOIN fl ON fl.query_id = ext.query_id
                AND fl.neighbor_id = ext.neighbor_id
    LEFT JOIN pq ON pq.query_id = ext.query_id
                AND pq.neighbor_id = ext.neighbor_id
    GROUP BY ext.query_id
    ORDER BY ext.query_id
    """,
)
def q154_ivfpq_recall(spark, sf_dir):
    """Recall@3 decomposition of the IVF-PQ error budget vs exact
    brute-force L2: IVF-flat (cell-pruning loss only) and IVF-PQ
    (plus ADC quantization loss) per query. See
    :func:`maston_spark.llm.similarity.ivf_pq_recall`."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.ivf_pq_recall(
        emb, query_ids=list(range(10)), k_neighbors=3,
        n_cells=4, nprobe=2, iterations=2, m=8, sub_dim=8, k=4,
    )


@query(
    "q170_bpe_encode",
    oracle="""
    WITH t0 AS (SELECT doc_id, ' ' || text || ' ' AS s FROM documents),
    p1 AS (SELECT toks[i] || ' ' || toks[i + 1] AS pair, count(*) AS c
           FROM (SELECT string_split(trim(s), ' ') AS toks FROM t0),
                LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
           GROUP BY 1),
    b1 AS (SELECT pair FROM p1 ORDER BY c DESC, pair LIMIT 1),
    t1 AS (SELECT doc_id, replace(s, ' ' || (SELECT pair FROM b1) || ' ',
                          ' ' || replace((SELECT pair FROM b1), ' ', '+') || ' ')
                  AS s FROM t0),
    p2 AS (SELECT toks[i] || ' ' || toks[i + 1] AS pair, count(*) AS c
           FROM (SELECT string_split(trim(s), ' ') AS toks FROM t1),
                LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
           GROUP BY 1),
    b2 AS (SELECT pair FROM p2 ORDER BY c DESC, pair LIMIT 1),
    t2 AS (SELECT doc_id, replace(s, ' ' || (SELECT pair FROM b2) || ' ',
                          ' ' || replace((SELECT pair FROM b2), ' ', '+') || ' ')
                  AS s FROM t1),
    p3 AS (SELECT toks[i] || ' ' || toks[i + 1] AS pair, count(*) AS c
           FROM (SELECT string_split(trim(s), ' ') AS toks FROM t2),
                LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
           GROUP BY 1),
    b3 AS (SELECT pair FROM p3 ORDER BY c DESC, pair LIMIT 1),
    t3 AS (SELECT doc_id, replace(s, ' ' || (SELECT pair FROM b3) || ' ',
                          ' ' || replace((SELECT pair FROM b3), ' ', '+') || ' ')
                  AS s FROM t2)
    SELECT d.doc_id,
           CAST(len(string_split(trim(d.text), ' ')) AS BIGINT) AS n_base_tokens,
           CAST(len(string_split(trim(t3.s), ' ')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_filter(string_split(trim(t3.s), ' '),
                                x -> contains(x, '+'))) AS BIGINT)
             AS n_fused_tokens,
           round(CAST(len(string_split(trim(d.text), ' ')) AS DOUBLE)
                 / len(string_split(trim(t3.s), ' ')), 9) AS compression
    FROM t3 JOIN documents d USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def q170_bpe_encode(spark, sf_dir):
    """Train 3 BPE merges on the corpus, then REPLAY them to tokenize
    every document — the apply half of the tokenizer story (q136
    trains; this encodes). Per-doc token accounting feeds the
    token-budget planner. See
    :func:`maston_spark.llm.text.bpe_encode`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    merges = TXT.bpe_merges(d.select("text"), n_merges=3)
    return TXT.bpe_encode(d, merges).orderBy("doc_id")


@query(
    "q171_source_dup_matrix",
    oracle="""
    WITH corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' xyz xyz xyz'
      FROM documents WHERE doc_id % 5 = 0),
    """ + _MINHASH_BODY + """,
    srcmap AS (
      SELECT doc_id AS id, source AS src FROM documents
      UNION ALL
      SELECT doc_id + 1000000, 'mirror' FROM documents WHERE doc_id % 5 = 0),
    pairs AS (
      SELECT j.id_a, j.id_b, sa.src AS src_a, sb.src AS src_b,
             least(sa.src, sb.src) AS source_a,
             greatest(sa.src, sb.src) AS source_b
      FROM jac j
      JOIN srcmap sa ON sa.id = j.id_a
      JOIN srcmap sb ON sb.id = j.id_b
      WHERE j.jaccard >= 0.5),
    pc AS (SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
           FROM pairs GROUP BY 1, 2),
    ends AS (
      SELECT source_a, source_b, src_a AS src_end, id_a AS id FROM pairs
      UNION ALL
      SELECT source_a, source_b, src_b, id_b FROM pairs),
    dc AS (SELECT source_a, source_b,
                  CAST(count(DISTINCT CASE WHEN src_end = source_a THEN id END)
                       AS BIGINT) AS n_docs_a,
                  CAST(count(DISTINCT CASE WHEN src_end = source_b THEN id END)
                       AS BIGINT) AS n_docs_b
           FROM ends GROUP BY 1, 2),
    totals AS (SELECT src, CAST(count(*) AS BIGINT) AS total
               FROM srcmap GROUP BY 1)
    SELECT p.source_a, p.source_b, p.n_dup_pairs, d.n_docs_a, d.n_docs_b,
           round(CAST(d.n_docs_a AS DOUBLE) / ta.total, 6) AS dup_rate_a,
           round(CAST(d.n_docs_b AS DOUBLE) / tb.total, 6) AS dup_rate_b
    FROM pc p
    JOIN dc d ON d.source_a = p.source_a AND d.source_b = p.source_b
    JOIN totals ta ON ta.src = p.source_a
    JOIN totals tb ON tb.src = p.source_b
    ORDER BY p.source_a, p.source_b
    """,
)
def q171_source_dup_matrix(spark, sf_dir):
    """Cross-source duplication-rate matrix over documents plus a
    planted 'mirror' source (near-dup mutations of every 5th doc):
    which sources mirror which, and what fraction of each is
    implicated — the mixing-weights audit run before sources are
    weighted. See :func:`maston_spark.llm.dedup.source_dup_matrix`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mirror = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.lit("mirror").alias("source"),
        F.concat("text", F.lit(" xyz xyz xyz")).alias("text"),
    )
    corpus = d.unionByName(mirror)
    return DD.source_dup_matrix(corpus, threshold=0.5).orderBy(
        "source_a", "source_b"
    )


@query(
    "q172_dup_transitivity",
    oracle="""
    WITH corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' xyz xyz xyz'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || ' pqr pqr pqr'
      FROM documents WHERE doc_id % 5 = 0),
    """ + _MINHASH_BODY + """,
    edges AS (SELECT id_a AS a, id_b AS b FROM jac WHERE jaccard >= 0.5),
    deg AS (SELECT x, count(*) AS d
            FROM (SELECT a AS x FROM edges UNION ALL SELECT b FROM edges) u
            GROUP BY 1),
    ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges),
    nw AS (SELECT CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
    o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.a ELSE e.b END AS src,
                 CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b)
                      THEN e.b ELSE e.a END AS dst
          FROM edges e
          JOIN deg da ON da.x = e.a
          JOIN deg db ON db.x = e.b),
    wcand AS (SELECT least(o1.dst, o2.dst) AS a, greatest(o1.dst, o2.dst) AS b
             FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
           FROM wcand c JOIN edges e ON e.a = c.a AND e.b = c.b)
    SELECT ne.n_edges, nw.n_wedges, nt.n_triangles,
           CASE WHEN nw.n_wedges > 0
                THEN (3.0 * nt.n_triangles) / nw.n_wedges END AS transitivity
    FROM ne, nw, nt
    """,
)
def q172_dup_transitivity(spark, sf_dir):
    """Threshold-transitivity audit of the near-dup graph: triangle
    census (degree-oriented forward counting) over MinHash-LSH pairs
    at Jaccard >= 0.5, on documents plus TWO planted mirror variants
    of every 5th doc (so orig/mirror-a/mirror-b triangles exist by
    construction). Low transitivity = connected-component clusters
    merge docs far below the pairwise bar. See
    :func:`maston_spark.graph.triangle_stats`."""
    from maston_spark.graph import triangle_stats

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mirrors = [
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + off).alias("doc_id"),
            F.concat("text", F.lit(suffix)).alias("text"),
        )
        for off, suffix in ((1000000, " xyz xyz xyz"), (2000000, " pqr pqr pqr"))
    ]
    corpus = d.unionByName(mirrors[0]).unionByName(mirrors[1])
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    pairs = DD.jaccard_from_lanes(mf, cands, threshold=0.5)
    return triangle_stats(pairs)


@query(
    "q174_pareto_frontier",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS tk
               FROM documents),
    m AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
                 round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 9)
                   AS quality
          FROM t)
    SELECT d.doc_id, d.n_tokens, d.quality
    FROM m d
    WHERE NOT EXISTS (
      SELECT 1 FROM m o
      WHERE o.quality >= d.quality AND o.n_tokens <= d.n_tokens
        AND (o.quality > d.quality OR o.n_tokens < d.n_tokens))
    ORDER BY d.n_tokens, d.doc_id
    """,
)
def q174_pareto_frontier(spark, sf_dir):
    """Quality-vs-cost Pareto frontier over documents (quality =
    distinct-token ratio, cost = token count): the efficient set a
    budget-constrained curator picks from — every dropped doc is
    beaten on one axis and matched on the other by a kept one. See
    :func:`maston_spark.llm.sampling.pareto_frontier` (local-skyline
    prefilter + exact confirm; the oracle is the naive NOT EXISTS
    dominance test, so the pruned plan is graded against the
    definition itself)."""
    from maston_spark.llm.sampling import pareto_frontier

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = F.split(F.trim("text"), r"\s+")
    m = d.select(
        "doc_id",
        F.size(tk).cast("long").alias("n_tokens"),
        # round at 9, not 6: distinct/total with a dyadic denominator
        # >= 2^7 (a 128-token doc) lands exactly on a 1e-6 midpoint,
        # which HALF_UP (Spark) vs HALF_EVEN (DuckDB) break apart; no
        # reachable denominator gets near 2^10, so grid 9 is midpoint-free
        F.round(F.size(F.array_distinct(tk)) / F.size(tk), 9).alias("quality"),
    )
    return pareto_frontier(m, "quality", "n_tokens").select(
        "doc_id", "n_tokens", "quality"
    ).orderBy("n_tokens", "doc_id")


@query(
    "q175_cusum_changepoint",
    oracle="""
    WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bkt,
                      CAST(count(*) AS BIGINT) AS c
               FROM events GROUP BY 1, 2),
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
    SELECT event_type, bkt AS changepoint_ts, n_buckets, total_events,
           CAST(scaled AS BIGINT) AS cusum_scaled,
           CAST(scaled AS DOUBLE) / n_buckets AS cusum
    FROM r WHERE rn = 1
    ORDER BY event_type
    """,
)
def q175_cusum_changepoint(spark, sf_dir):
    """Per-event-type CUSUM changepoint over hourly event counts
    (Page 1954): the bucket where cumulative deviation from the mean
    rate peaks — the rate-shift locator an ingest-volume anomaly
    alert hands to an operator. Integer-scaled statistic, raw-IEEE
    reported value. See
    :func:`maston_spark.relational.cusum_changepoint`."""
    from maston_spark.relational import cusum_changepoint

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    return cusum_changepoint(ev, "event_type", "ts", unit="hour").orderBy(
        "event_type"
    )


@query(
    "q177_boilerplate_strip",
    oracle="""
    WITH corpus AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN 'header boilerplate notice legal text ' || text
                  ELSE text END AS text
      FROM documents),
    p AS (SELECT doc_id, text, string_split(trim(text), ' ') AS tk
          FROM corpus),
    q AS (SELECT doc_id, text, tk,
                 CASE WHEN len(tk) >= 5
                      THEN array_to_string(tk[1:5], ' ') END AS prefix
          FROM p),
    f AS (SELECT prefix FROM q WHERE prefix IS NOT NULL
          GROUP BY 1 HAVING count(*) >= 3)
    SELECT q.doc_id,
           (f.prefix IS NOT NULL) AS stripped,
           CASE WHEN f.prefix IS NOT NULL
                THEN array_to_string(tk[6:len(tk)], ' ')
                ELSE q.text END AS text_out
    FROM q LEFT JOIN f ON f.prefix = q.prefix
    ORDER BY q.doc_id
    """,
)
def q177_boilerplate_strip(spark, sf_dir):
    """Frequent-prefix boilerplate removal over documents with a
    planted 5-token banner on every 3rd doc (the crawl cookie-banner
    / license-header case): the shared prefix is detected by a
    document-threshold groupBy and sliced off affected docs only.
    See :func:`maston_spark.llm.text.strip_boilerplate_prefix`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit("header boilerplate notice legal text "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return TXT.strip_boilerplate_prefix(
        corpus, k_tokens=5, min_docs=3
    ).orderBy("doc_id")


@query(
    "q178_ks_drift",
    oracle="""
    WITH m AS (SELECT source AS g,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS v
               FROM documents),
    counts AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
               FROM m GROUP BY 1, 2),
    grid AS (SELECT gv.v, gg.g
             FROM (SELECT DISTINCT v FROM counts) gv,
                  (SELECT DISTINCT g FROM counts) gg),
    filled AS (SELECT grid.g, grid.v, coalesce(c.c, 0) AS c
               FROM grid LEFT JOIN counts c
                 ON c.g = grid.g AND c.v = grid.v),
    cum AS (SELECT g, v,
                   CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
                     AS cum_g
            FROM filled),
    pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM counts GROUP BY 1),
    pv2 AS (SELECT v, CAST(sum(cv) OVER (ORDER BY v) AS BIGINT) AS cum_all
            FROM pv),
    sizes AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_group
              FROM counts GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
    sc AS (SELECT cum.g, sizes.n_group,
                  tot.n - sizes.n_group AS n_rest,
                  abs((tot.n - sizes.n_group) * cum.cum_g
                      - sizes.n_group * (pv2.cum_all - cum.cum_g)) AS d
           FROM cum
           JOIN pv2 ON pv2.v = cum.v
           JOIN sizes ON sizes.g = cum.g, tot)
    SELECT g AS source, n_group, n_rest,
           CAST(max(d) AS BIGINT) AS ks_scaled,
           CAST(max(d) AS DOUBLE) / (n_group * n_rest) AS ks
    FROM sc GROUP BY 1, 2, 3
    ORDER BY source
    """,
)
def q178_ks_drift(spark, sf_dir):
    """Kolmogorov-Smirnov drift of each source's per-doc token-count
    distribution against the rest of the corpus — the continuous
    counterpart of the chi-square categorical audit (q130), run
    before trusting a new crawl's length profile. Integer-scaled
    statistic, raw-IEEE reported value. See
    :func:`maston_spark.profiling.ks_drift`."""
    from maston_spark.profiling import ks_drift

    d = load_table(spark, sf_dir, "documents").select("source", "text")
    m = d.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    return ks_drift(m, "source", "n_tokens").orderBy("source")


@query(
    "q179_water_fill",
    oracle="""
    WITH sizes AS (SELECT source AS domain, CAST(count(*) AS BIGINT) AS n_docs
                   FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST((sum(n_docs) * 3) // 5 AS BIGINT) AS budget
            FROM sizes),
    ranked AS (SELECT domain, n_docs,
                      CAST(row_number() OVER (ORDER BY n_docs, domain)
                           AS BIGINT) AS i,
                      CAST(sum(n_docs) OVER (ORDER BY n_docs, domain)
                           AS BIGINT) AS cum
               FROM sizes),
    r2 AS (SELECT r.*, 
                  CAST(coalesce(lag(cum) OVER (ORDER BY i), 0) AS BIGINT)
                    AS prev_cum,
                  CAST(coalesce(lag(n_docs) OVER (ORDER BY i), 0) AS BIGINT)
                    AS prev_size,
                  t.budget, t.total, t.n
           FROM ranked r, tot t),
    lvl AS (SELECT CAST((budget - prev_cum) // (n - i + 1) AS BIGINT) AS li
            FROM r2
            WHERE budget < total
              AND (budget - prev_cum) // (n - i + 1) >= prev_size
              AND (budget - prev_cum) // (n - i + 1) < n_docs
            ORDER BY i LIMIT 1),
    base AS (SELECT r2.domain, r2.n_docs, r2.budget, r2.total,
                    coalesce((SELECT li FROM lvl), r2.total) AS lvl,
                    least(r2.n_docs,
                          coalesce((SELECT li FROM lvl), r2.total)) AS b
             FROM r2),
    u AS (SELECT CAST(sum(b) AS BIGINT) AS used FROM base),
    fin AS (SELECT base.*, least(budget, total) - u.used AS rem,
                   row_number() OVER
                     (ORDER BY (n_docs > lvl) DESC, domain) AS er
            FROM base, u)
    SELECT domain, n_docs,
           CAST(b + CASE WHEN n_docs > lvl AND er <= rem
                         THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM fin ORDER BY domain
    """,
)
def q179_water_fill(spark, sf_dir):
    """Water-filling allocation of a 3/5-of-corpus document budget
    across sources: every source capped at the common water line, so
    the mixture is as even as the budget allows while small sources
    keep everything — the quota planner feeding domain_cap. All
    int64 arithmetic, replayed exactly by the oracle. See
    :func:`maston_spark.llm.sampling.domain_water_fill`."""
    from maston_spark.llm.sampling import domain_water_fill

    d = load_table(spark, sf_dir, "documents").select("source")
    return domain_water_fill(d, "source", 3, 5).orderBy("domain")


@query(
    "q182_seasonal_anomalies",
    oracle="""
    WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                      hour(ts) AS how, CAST(count(*) AS BIGINT) AS n_events
               FROM events GROUP BY 1, 2, 3),
    s AS (SELECT event_type, how, CAST(count(*) AS BIGINT) AS s_cnt,
                 CAST(sum(n_events) AS BIGINT) AS s_sum
          FROM b GROUP BY 1, 2)
    SELECT b.event_type, b.bucket_ts, b.n_events,
           s.s_cnt AS season_buckets, s.s_sum AS season_events,
           CASE WHEN b.n_events * s.s_cnt > 2 * s.s_sum THEN 'high'
                ELSE 'low' END AS direction
    FROM b JOIN s ON s.event_type = b.event_type AND s.how = b.how
    WHERE b.n_events * s.s_cnt > 2 * s.s_sum
       OR 2 * b.n_events * s.s_cnt < s.s_sum
    ORDER BY b.event_type, b.bucket_ts
    """,
)
def q182_seasonal_anomalies(spark, sf_dir):
    """Hour-of-day seasonal-profile anomalies per event type: buckets
    at >2x or <0.5x their group's recurring hourly mean, compared in
    the cross-multiplied integer domain (no division, no rounding).
    The per-bucket complement of q175's persistent-shift CUSUM. See
    :func:`maston_spark.relational.seasonal_anomalies`."""
    from maston_spark.relational import seasonal_anomalies

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    return seasonal_anomalies(ev, "event_type", "ts", unit="hour", factor=2).orderBy(
        "event_type", "bucket_ts"
    )


@query(
    "q183_oov_rate",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT w AS tok FROM (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
        WHERE doc_id % 2 = 0) u
      WHERE w <> ''),
    tc AS (SELECT source, w AS tok, CAST(count(*) AS BIGINT) AS c
           FROM (SELECT source, unnest(string_split(
                   CASE WHEN doc_id % 10 = 1
                        THEN text || ' zzqx' || CAST(doc_id AS VARCHAR)
                        ELSE text END, ' ')) AS w
                 FROM documents) u
           WHERE w <> '' GROUP BY 1, 2)
    SELECT tc.source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.tok IS NULL THEN c ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(sum(CASE WHEN v.tok IS NULL THEN c ELSE 0 END) AS DOUBLE)
             / sum(c) AS oov_rate
    FROM tc LEFT JOIN vocab v ON v.tok = tc.tok
    GROUP BY tc.source
    ORDER BY tc.source
    """,
)
def q183_oov_rate(spark, sf_dir):
    """Per-source OOV rate against the even-doc_id half's vocabulary
    (a stand-in train split), with a planted novel token appended to
    every 10th doc so non-zero OOV mass exists at every scale — the
    tokenizer-coverage QA gate for a new source. See
    :func:`maston_spark.llm.text.oov_rate`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.select(
        "source",
        F.when(
            F.col("doc_id") % 10 == 1,
            F.concat(
                F.col("text"), F.lit(" zzqx"), F.col("doc_id").cast("string")
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    vocab_src = d.filter(F.col("doc_id") % 2 == 0).select("text")
    return TXT.oov_rate(corpus, vocab_src).orderBy("source")


@query(
    "q184_grouped_quantile_bins",
    oracle="""
    WITH e AS (SELECT source,
                      quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qs
               FROM documents GROUP BY source),
    b AS (SELECT d.source, d.n_chars AS x,
                 CAST(len(list_filter(e.qs, q -> d.n_chars > q)) AS INT)
                   AS bin
          FROM documents d JOIN e ON e.source = d.source
          WHERE d.n_chars IS NOT NULL)
    SELECT source, bin, CAST(count(*) AS BIGINT) AS n_rows,
           min(x) AS min_val, max(x) AS max_val
    FROM b GROUP BY source, bin
    ORDER BY source, bin
    """,
)
def q184_grouped_quantile_bins(spark, sf_dir):
    """Per-source quartile binning of document lengths — the
    calibration that makes 'top quartile' mean top quartile OF THAT
    SOURCE before a cross-source budget cut. Cut points are each
    group's exact percentiles (distributed order statistics), never
    a per-group corpus sort. See
    :func:`maston_spark.relational.grouped_quantile_bins`."""
    from maston_spark.relational import grouped_quantile_bins

    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    return grouped_quantile_bins(d, "source", "n_chars", n_bins=4)


@query(
    "q185_table_fingerprint",
    oracle="""
    WITH h AS (SELECT ('0x' || substr(md5(
                 coalesce(CAST(l_orderkey AS VARCHAR), '<NULL>') || chr(31) ||
                 coalesce(CAST(l_linenumber AS VARCHAR), '<NULL>') || chr(31) ||
                 coalesce(CAST(l_quantity AS VARCHAR), '<NULL>') || chr(31) ||
                 coalesce(l_returnflag, '<NULL>')), 1, 15))::BIGINT AS h
               FROM lineitem)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(h) AS BIGINT) AS xor_fp,
           CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR) AS sum_fp
    FROM h
    """,
)
def q185_table_fingerprint(spark, sf_dir):
    """Order-insensitive content fingerprint of four lineitem columns
    — the O(1)-output pipeline-equivalence check run before a full
    table_diff (commutative XOR + exact decimal sum + count pin the
    row multiset independent of partitioning or ordering). See
    :func:`maston_spark.relational.table_fingerprint`."""
    from maston_spark.relational import table_fingerprint

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    return table_fingerprint(li)


@query(
    "q186_curation_funnel",
    oracle="""
    WITH t AS (SELECT doc_id, source, text,
                      string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT doc_id, source, text,
             round(
               (CASE WHEN len(toks) BETWEEN 20 AND 10000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
                              / length(text), 6) < 0.2 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN round(len(list_filter(toks,
                                x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                              / len(toks), 6) > 0.01 THEN 0.3 ELSE 0.0 END), 6
             ) AS quality_score
      FROM t),
    gated AS (SELECT * FROM scored WHERE quality_score >= 0.7),
    hashed AS (SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                      AS content_hash FROM gated),
    deduped AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY content_hash
                                     ORDER BY doc_id) AS __rn
        FROM hashed) WHERE __rn = 1),
    capped AS (
      SELECT * FROM (
        SELECT doc_id, source, quality_score,
               row_number() OVER (PARTITION BY source
                 ORDER BY quality_score DESC, doc_id) AS domain_rank
        FROM deduped) WHERE domain_rank <= 15)
    SELECT 'input' AS stage, 1 AS stage_order,
           CAST((SELECT count(*) FROM t) AS BIGINT) AS n_rows
    UNION ALL SELECT 'quality_gate', 2,
           CAST((SELECT count(*) FROM gated) AS BIGINT)
    UNION ALL SELECT 'exact_dedup', 3,
           CAST((SELECT count(*) FROM deduped) AS BIGINT)
    UNION ALL SELECT 'domain_cap', 4,
           CAST((SELECT count(*) FROM capped) AS BIGINT)
    ORDER BY stage_order
    """,
)
def q186_curation_funnel(spark, sf_dir):
    """The curation RUN REPORT for q113's pipeline: per-stage
    surviving-row counts (input → quality gate → exact dedup →
    domain cap) — the funnel every production curation job prints
    before anyone trusts its output corpus. The shared post-gate
    frame is persisted once; each stage count is a combiner-reduced
    1-row aggregate."""
    from pyspark.sql import Window
    from maston_spark.caching import scoped_persist
    from maston_spark.llm import dedup as _DD

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    gated = scoped_persist(
        TXT.quality_score(d).filter(F.col("quality_score") >= 0.7)
    )
    hashed = gated.withColumn("content_hash", _DD.content_hash(F.col("text")))
    w_dedup = Window.partitionBy("content_hash").orderBy("doc_id")
    deduped = scoped_persist(
        hashed.withColumn("__rn", F.row_number().over(w_dedup)).filter(
            F.col("__rn") == 1
        )
    )
    w_cap = Window.partitionBy("source").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    capped = deduped.withColumn(
        "domain_rank", F.row_number().over(w_cap)
    ).filter(F.col("domain_rank") <= 15)

    def stage(df, name, order):
        return df.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).select(
            F.lit(name).alias("stage"),
            F.lit(order).cast("int").alias("stage_order"),
            "n_rows",
        )

    return (
        stage(d, "input", 1)
        .unionByName(stage(gated, "quality_gate", 2))
        .unionByName(stage(deduped, "exact_dedup", 3))
        .unionByName(stage(capped, "domain_cap", 4))
        .orderBy("stage_order")
    )


@query(
    "q187_cumulative_reach",
    oracle="""
    WITH first AS (SELECT user_id, min(date_trunc('day', ts)) AS bucket_ts
                   FROM events WHERE user_id IS NOT NULL
                   GROUP BY user_id),
    pb AS (SELECT bucket_ts, CAST(count(*) AS BIGINT) AS new_users
           FROM first GROUP BY bucket_ts)
    SELECT bucket_ts, new_users,
           CAST(sum(new_users) OVER (ORDER BY bucket_ts) AS BIGINT)
             AS cumulative_users
    FROM pb ORDER BY bucket_ts
    """,
)
def q187_cumulative_reach(spark, sf_dir):
    """Daily audience-growth curve: distinct users seen to date via
    the first-touch reduction (one min-agg per user, never a
    count-distinct window or self-join over the corpus). See
    :func:`maston_spark.relational.cumulative_reach`."""
    from maston_spark.relational import cumulative_reach

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    return cumulative_reach(ev, "user_id", "ts", unit="day")


@query(
    "q188_schema_drift",
    oracle="""
    WITH p AS (SELECT CASE
                 WHEN event_id % 4 = 0
                   THEN replace(props, '}', ',"beta_flag":true}')
                 WHEN event_id % 7 = 0
                   THEN replace(props, '}', ',"debug_ts":"x"}')
                 ELSE props END AS props
               FROM events),
    kv AS (SELECT k AS field,
                  json_extract_string(props, '$.' || k) AS v
           FROM (SELECT props, unnest(json_keys(props)) AS k FROM p) u)
    SELECT field, CAST(count(*) AS BIGINT) AS n_records,
           min(v) AS sample_value
    FROM kv WHERE field <> 'k'
    GROUP BY field
    ORDER BY field
    """,
)
def q188_schema_drift(spark, sf_dir):
    """Schema-drift report over events.props with planted novel
    fields (every 4th event grows beta_flag, every non-overlapping
    7th grows debug_ts) against the declared schema {k} — the
    how-consumers-find-out report for fields from_json silently
    drops. See :func:`maston_spark.validated.schema_drift_report`."""
    from maston_spark.validated import schema_drift_report

    ev = load_table(spark, sf_dir, "events").select("event_id", "props")
    planted = ev.select(
        F.when(
            F.col("event_id") % 4 == 0,
            F.replace(F.col("props"), F.lit("}"), F.lit(',"beta_flag":true}')),
        )
        .when(
            F.col("event_id") % 7 == 0,
            F.replace(F.col("props"), F.lit("}"), F.lit(',"debug_ts":"x"}')),
        )
        .otherwise(F.col("props"))
        .alias("props")
    )
    return schema_drift_report(planted, "props", ["k"]).orderBy("field")


@query(
    "q189_token_water_fill",
    oracle="""
    WITH sizes AS (SELECT source AS domain,
                          CAST(sum(len(string_split(trim(text), ' ')))
                               AS BIGINT) AS n_docs
                   FROM documents GROUP BY 1),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST((sum(n_docs) * 1) // 2 AS BIGINT) AS budget
            FROM sizes),
    ranked AS (SELECT domain, n_docs,
                      CAST(row_number() OVER (ORDER BY n_docs, domain)
                           AS BIGINT) AS i,
                      CAST(sum(n_docs) OVER (ORDER BY n_docs, domain)
                           AS BIGINT) AS cum
               FROM sizes),
    r2 AS (SELECT r.*, 
                  CAST(coalesce(lag(cum) OVER (ORDER BY i), 0) AS BIGINT)
                    AS prev_cum,
                  CAST(coalesce(lag(n_docs) OVER (ORDER BY i), 0) AS BIGINT)
                    AS prev_size,
                  t.budget, t.total, t.n
           FROM ranked r, tot t),
    lvl AS (SELECT CAST((budget - prev_cum) // (n - i + 1) AS BIGINT) AS li
            FROM r2
            WHERE budget < total
              AND (budget - prev_cum) // (n - i + 1) >= prev_size
              AND (budget - prev_cum) // (n - i + 1) < n_docs
            ORDER BY i LIMIT 1),
    base AS (SELECT r2.domain, r2.n_docs, r2.budget, r2.total,
                    coalesce((SELECT li FROM lvl), r2.total) AS lvl,
                    least(r2.n_docs,
                          coalesce((SELECT li FROM lvl), r2.total)) AS b
             FROM r2),
    u AS (SELECT CAST(sum(b) AS BIGINT) AS used FROM base),
    fin AS (SELECT base.*, least(budget, total) - u.used AS rem,
                   row_number() OVER
                     (ORDER BY (n_docs > lvl) DESC, domain) AS er
            FROM base, u)
    SELECT domain, n_docs,
           CAST(b + CASE WHEN n_docs > lvl AND er <= rem
                         THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM fin ORDER BY domain
    """,
)
def q189_token_water_fill(spark, sf_dir):
    """Water-filling a TOKEN budget (half the corpus's tokens) across
    sources: the weighted form of q179 — domain sizes are token sums
    and the water line caps allocated tokens per source. Same exact
    int64 bracket math on the |domains|-row weighted size table. See
    :func:`maston_spark.llm.sampling.domain_water_fill` with
    ``weight_col``."""
    from maston_spark.llm.sampling import domain_water_fill

    d = load_table(spark, sf_dir, "documents").select("source", "text")
    weighted = d.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    return domain_water_fill(
        weighted, "source", 1, 2, weight_col="n_tokens"
    ).orderBy("domain")


@query(
    "q190_neardup_evidence",
    oracle="""
    WITH corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' xyz xyz xyz'
      FROM documents WHERE doc_id % 5 = 0),
    """ + _MINHASH_BODY + """,
    sd AS (SELECT DISTINCT id, array_to_string(t[i:i+2], ' ') AS shingle
           FROM (SELECT id, string_split(trim(text), ' ') AS t FROM corpus),
                LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) r
           WHERE len(t) >= 3),
    pr AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5),
    shared AS (SELECT p.id_a, p.id_b, s.shingle,
                      ('0x' || substr(md5(s.shingle), 1, 8))::BIGINT AS lane
               FROM pr p
               JOIN sd s ON s.id = p.id_a
               JOIN sd s2 ON s2.id = p.id_b AND s2.shingle = s.shingle),
    rk AS (SELECT *, row_number() OVER (PARTITION BY id_a, id_b
                        ORDER BY lane, shingle) AS rn
           FROM shared)
    SELECT id_a, id_b, CAST(rn AS INT) AS rank, shingle
    FROM rk WHERE rn <= 3
    ORDER BY id_a, id_b, rank
    """,
)
def q190_neardup_evidence(spark, sf_dir):
    """Match EVIDENCE for near-dup pairs at Jaccard >= 0.5 (q41's
    corpus): the three lowest-lane shared shingles per pair, as text
    — the review artifact attached when a flagged pair is disputed.
    See :func:`maston_spark.llm.dedup.neardup_evidence`."""
    corpus = _neardup_corpus(spark, sf_dir)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    pairs = DD.jaccard_from_lanes(mf, cands, threshold=0.5)
    return DD.neardup_evidence(corpus, pairs, top_n=3).orderBy(
        "id_a", "id_b", "rank"
    )


@query(
    "q193_funnel_attribution",
    oracle="""
    WITH t AS (SELECT doc_id, source, text,
                      string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT doc_id, source, text,
             round(
               (CASE WHEN len(toks) BETWEEN 20 AND 10000 THEN 0.4 ELSE 0.0 END)
               + (CASE WHEN round(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))::DOUBLE
                              / length(text), 6) < 0.2 THEN 0.3 ELSE 0.0 END)
               + (CASE WHEN round(len(list_filter(toks,
                                x -> list_contains(['the','a','of','and','to'], x)))::DOUBLE
                              / len(toks), 6) > 0.01 THEN 0.3 ELSE 0.0 END), 6
             ) AS quality_score
      FROM t),
    gated AS (SELECT * FROM scored WHERE quality_score >= 0.7),
    hashed AS (SELECT *, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
                      AS content_hash FROM gated),
    ranked AS (
      SELECT source,
             row_number() OVER (PARTITION BY content_hash
                                ORDER BY doc_id) AS __rn,
             first_value(source) OVER (PARTITION BY content_hash
                                       ORDER BY doc_id) AS keeper_source
      FROM hashed)
    SELECT 'quality_gate' AS stage, CAST(NULL AS VARCHAR) AS keeper_source,
           source AS dropped_source, CAST(count(*) AS BIGINT) AS n_dropped
    FROM scored WHERE quality_score < 0.7
    GROUP BY source
    UNION ALL
    SELECT 'exact_dedup', keeper_source, source,
           CAST(count(*) AS BIGINT)
    FROM ranked WHERE __rn > 1
    GROUP BY keeper_source, source
    ORDER BY stage, keeper_source NULLS FIRST, dropped_source
    """,
)
def q193_funnel_attribution(spark, sf_dir):
    """Per-source attribution of the curation funnel's drops: for
    the quality-gate stage, how many docs each source lost; for the
    exact-dedup stage, which source KEPT the surviving copy of each
    dropped doc — ``(stage, keeper_source, dropped_source,
    n_dropped)``. The question a production run asks right after
    reading the q186 funnel ("which sources caused the losses, and
    to whom"), the q171 dup-matrix idea applied INSIDE the pipeline
    instead of as a separate LSH pass.

    Scale shape: zero additional corpus passes — the keeper's source
    rides the SAME content-hash window the dedup stage already runs
    (``first_value`` over the rank ordering), and both attributions
    are combiner-reduced aggregations whose outputs are bounded by
    |sources| and |sources|², not by rows."""
    from pyspark.sql import Window
    from maston_spark.caching import scoped_persist
    from maston_spark.llm import dedup as _DD

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = scoped_persist(TXT.quality_score(d))
    gate_drops = (
        scored.filter(F.col("quality_score") < 0.7)
        .groupBy(F.col("source").alias("dropped_source"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
        .select(
            F.lit("quality_gate").alias("stage"),
            F.lit(None).cast("string").alias("keeper_source"),
            "dropped_source",
            "n_dropped",
        )
    )
    hashed = scored.filter(F.col("quality_score") >= 0.7).withColumn(
        "content_hash", _DD.content_hash(F.col("text"))
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    ranked = hashed.select(
        "source",
        F.row_number().over(w).alias("__rn"),
        F.first("source").over(w).alias("keeper_source"),
    )
    dedup_drops = (
        ranked.filter(F.col("__rn") > 1)
        .groupBy("keeper_source", F.col("source").alias("dropped_source"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"))
        .select(
            F.lit("exact_dedup").alias("stage"),
            "keeper_source",
            "dropped_source",
            "n_dropped",
        )
    )
    return gate_drops.unionByName(dedup_drops).orderBy(
        "stage", F.col("keeper_source").asc_nulls_first(), "dropped_source"
    )


@query(
    "q195_incremental_neardup",
    oracle="""
WITH old AS (SELECT doc_id AS id, text FROM documents),
new_docs AS (
  SELECT doc_id + 5000000 AS id, text || ' xyz xyz xyz' AS text
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 6000000,
         'fresh unseen content block ' || CAST(doc_id AS VARCHAR)
         || ' with enough words to shingle cleanly beyond any match'
  FROM documents WHERE doc_id % 11 = 0),
sb AS (
  SELECT id, sig, list_transform(range(0, 4),
           b -> CAST(b AS VARCHAR) || ':' ||
                md5(array_to_string(sig[(b*4+1):(b*4+4)], '|'))) AS bands
  FROM (
    SELECT id, list_transform(range(0, 16),
             s -> list_min(list_transform(hv,
                    h -> ((1664525 + 2*s) * h + 1013904223 + s)
                         % 4294967311))) AS sig
    FROM (
      SELECT id, list_distinct(list_transform(sh,
               x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hv
      FROM (
        SELECT id,
               list_distinct(CASE WHEN len(t) >= 3
                 THEN list_transform(range(1, len(t) - 1),
                        i -> array_to_string(t[i:i+2], ' '))
                 ELSE [] END) AS sh
        FROM (SELECT id, string_split(text, ' ') AS t
              FROM (SELECT id, text FROM old
                    UNION ALL SELECT id, text FROM new_docs)) tt
      ) ss WHERE len(sh) > 0
    ) hh
  ) gg),
ob AS (SELECT sb.sig AS osig, unnest(sb.bands) AS bk
       FROM sb WHERE id < 5000000),
nb AS (SELECT sb.id, sb.sig, unnest(sb.bands) AS bk
       FROM sb WHERE id >= 5000000),
best AS (
  SELECT nb.id,
         max(len(list_filter(range(1, 17),
                 i -> nb.sig[i] = ob.osig[i]))) AS agree
  FROM nb JOIN ob ON nb.bk = ob.bk
  GROUP BY nb.id),
allnew AS (SELECT DISTINCT id FROM new_docs)
SELECT a.id AS doc_id,
       CAST(coalesce(best.agree, 0) AS INT) AS n_sig_agree,
       coalesce(best.agree, 0) >= 12 AS is_near_dup
FROM allnew a LEFT JOIN best ON best.id = a.id
""",
)
def q195_incremental_neardup(spark, sf_dir):
    """Incremental near-dup gate, batch form: which NEW documents
    (planted: every 7th corpus doc with a 3-token suffix — true
    near-dups — plus every 11th doc's id as genuinely fresh text)
    are MinHash-band + signature-confirmed near-duplicates of the
    already-accepted corpus. EXACTLY the physics of
    ``curation_topology(neardup=True)``'s cross-batch stage — the
    same :func:`maston_spark.llm.dedup.sig_bands_frame` construction
    and integer agreement confirm — made oracle-gradeable (the
    streaming topology itself is golden-tested but not
    SQL-replayable). Shingle width 3, 16-hash signatures, 4 bands,
    tau=0.7 → agreement ≥ 12 of 16."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    new = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 5000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" xyz xyz xyz")).alias("text"),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 6000000).alias("doc_id"),
                F.concat(
                    F.lit("fresh unseen content block "),
                    F.col("doc_id").cast("string"),
                    F.lit(
                        " with enough words to shingle cleanly beyond any match"
                    ),
                ).alias("text"),
            )
        )
    )
    return DD.incremental_neardup(
        d, new, shingle_n=3, minhash_n=16, band_size=4, tau=0.7
    ).orderBy("doc_id")


@query(
    "q203_exact_simjoin",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE text IS NOT NULL),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i.i] || ' ' || ws[i.i+1] || ' ' || ws[i.i+2] AS sh
           FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) i
           WHERE i.i + 2 <= len(ws)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    j AS (SELECT doc_a, doc_b, i, sa.n AS na, sb.n AS nb
          FROM inter JOIN sz sa ON sa.doc_id = doc_a
                     JOIN sz sb ON sb.doc_id = doc_b)
    SELECT doc_a, doc_b, CAST(i AS BIGINT) AS n_common,
           round(i / CAST(na + nb - i AS DOUBLE), 6) AS jaccard
    FROM j WHERE i / CAST(na + nb - i AS DOUBLE) >= 0.6
    ORDER BY doc_a, doc_b
    """,
)
def q203_exact_simjoin(spark, sf_dir):
    """EXACT all-pairs Jaccard >= 0.6 similarity join over 3-shingle
    sets — the compliance-grade "find EVERY near-dup pair" member of
    the dedup family (LSH trades completeness for candidates; this
    keeps completeness). THE ORACLE IS BRUTE FORCE, not a replay: it
    computes ground truth from the full shingle join, so a hash
    match certifies COMPLETENESS cross-engine, not merely
    reproducibility. The ppjoin prefix-filter variant was measured
    out (SCALE.md round 11). See
    :func:`maston_spark.llm.dedup.exact_jaccard_simjoin`."""
    from maston_spark.llm.dedup import exact_jaccard_simjoin

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_jaccard_simjoin(
        d, "doc_id", "text", tau=0.6, shingle_n=3
    ).orderBy("doc_a", "doc_b")


def _greedy_cov_sql(k: int) -> str:
    """k chained greedy stages — the oracle replays each pick with
    scalar subqueries (deterministic ties by id)."""
    stages = [
        "w AS MATERIALIZED (SELECT doc_id AS id, string_split(text, ' ') AS ws "
        "FROM documents WHERE text IS NOT NULL)",
        "tok AS MATERIALIZED (SELECT DISTINCT id, "
        "ws[i.i] || ' ' || ws[i.i+1] || ' ' || ws[i.i+2] AS tok "
        "FROM w, LATERAL (SELECT unnest(range(1, len(ws))) AS i) i "
        "WHERE i.i + 2 <= len(ws))"
    ]
    selects = []
    prev = None
    for i in range(1, k + 1):
        if prev is None:
            stages.append(
                f"g{i} AS MATERIALIZED (SELECT id, count(*) AS gain FROM tok GROUP BY id)"
            )
        else:
            stages.append(
                f"g{i} AS MATERIALIZED (SELECT t.id, count(*) AS gain FROM tok t "
                f"LEFT JOIN {prev} c ON c.tok = t.tok "
                f"WHERE c.tok IS NULL GROUP BY t.id)"
            )
        stages.append(
            f"p{i} AS MATERIALIZED (SELECT id, gain FROM g{i} "
            f"ORDER BY gain DESC, id LIMIT 1)"
        )
        if prev is None:
            stages.append(
                f"c{i} AS MATERIALIZED (SELECT DISTINCT tok FROM tok "
                f"WHERE id = (SELECT id FROM p{i}))"
            )
        else:
            stages.append(
                f"c{i} AS MATERIALIZED (SELECT tok FROM {prev} UNION "
                f"SELECT tok FROM tok WHERE id = (SELECT id FROM p{i}))"
            )
        prev = f"c{i}"
        selects.append(
            f"SELECT {i} AS step, (SELECT id FROM p{i}) AS doc_id, "
            f"CAST((SELECT gain FROM p{i}) AS BIGINT) AS n_new_tokens, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM c{i}) AS n_covered_total "
            f"WHERE (SELECT count(*) FROM p{i}) > 0"  # early stop: no
            # candidate with uncovered units left -> stage emits nothing
        )
    return (
        "WITH "
        + ",\n".join(stages)
        + "\n"
        + " UNION ALL ".join(selects)
        + " ORDER BY step"
    )


@query("q204_greedy_coverage", oracle=_greedy_cov_sql(6))
def q204_greedy_coverage(spark, sf_dir):
    """Greedy maximum-coverage selection of 6 documents over
    3-shingle units (the templated corpus has a 31-word unigram
    vocabulary — one doc covers it; shingles make coverage real) — the
    (1-1/e)-approximate submodular greedy behind coreset /
    data-mixture selection, a selection physics the hash/score
    samplers can't express because each pick devalues the rest. The
    oracle replays all 6 argmax stages as chained SQL (deterministic
    ties by id). See
    :func:`maston_spark.llm.sampling.greedy_token_coverage`."""
    from maston_spark.llm.sampling import greedy_token_coverage

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return greedy_token_coverage(d, "doc_id", "text", k=6, ngram=3)


@query(
    "q209_hard_negatives",
    oracle="""
    WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, label AS ql
          FROM c WHERE vec_id < 10),
    sims AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             CAST(c.label AS BIGINT) AS neighbor_label,
             list_cosine_similarity(q.qv, c.v) AS s
      FROM c CROSS JOIN q
      WHERE c.vec_id <> q.query_id AND c.label <> q.ql)
    SELECT query_id, neighbor_id, neighbor_label, round(s, 6) AS sim, rn
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, neighbor_id) AS rn
      FROM sims) WHERE rn <= 5
    """,
)
def q209_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: for each of 10
    anchor vectors, the 5 most-similar vectors with a DIFFERENT
    label — the ANCE/DPR-style between-epochs negative refresh, the
    one similarity sweep whose output feeds a TRAINING loop rather
    than dedup. Same broadcast-anchor single-scan shape as q43 with
    the label-exclusion mask; graded against the brute-force oracle.
    See :func:`maston_spark.llm.similarity.hard_negatives`."""
    from maston_spark.llm import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.hard_negatives(emb, query_ids=list(range(10)), k=5)


def _mmr_sql(k: int, lam: float, mu: float) -> str:
    """k chained MMR argmax stages, every CTE MATERIALIZED (plain
    CTEs re-inline per reference — the q204 lesson)."""
    stages = [
        "c AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v "
        "FROM embeddings)",
        "qv AS MATERIALIZED (SELECT v AS q FROM c WHERE vec_id = 0)",
        "rel AS MATERIALIZED (SELECT c.vec_id, c.v, "
        "list_cosine_similarity(q, v) AS rel FROM c, qv "
        "WHERE c.vec_id <> 0)",
    ]
    selects = []
    prev_sel = None
    for i in range(1, k + 1):
        if prev_sel is None:
            stages.append(
                f"p{i} AS MATERIALIZED (SELECT vec_id, {lam!r} * rel AS score, "
                f"rel FROM rel ORDER BY score DESC, vec_id LIMIT 1)"
            )
            stages.append(
                f"s{i} AS MATERIALIZED (SELECT vec_id, v FROM rel "
                f"WHERE vec_id = (SELECT vec_id FROM p{i}))"
            )
        else:
            stages.append(
                f"g{i} AS MATERIALIZED (SELECT r.vec_id, r.rel, "
                f"max(list_cosine_similarity(r.v, s.v)) AS mp "
                f"FROM rel r, {prev_sel} s "
                f"WHERE r.vec_id NOT IN (SELECT vec_id FROM {prev_sel}) "
                f"GROUP BY r.vec_id, r.rel)"
            )
            stages.append(
                f"p{i} AS MATERIALIZED (SELECT vec_id, "
                f"{lam!r} * rel - {mu!r} * mp AS score, rel FROM g{i} "
                f"ORDER BY score DESC, vec_id LIMIT 1)"
            )
            stages.append(
                f"s{i} AS MATERIALIZED (SELECT vec_id, v FROM {prev_sel} "
                f"UNION ALL SELECT r.vec_id, r.v FROM rel r "
                f"WHERE r.vec_id = (SELECT vec_id FROM p{i}))"
            )
        prev_sel = f"s{i}"
        selects.append(
            f"SELECT {i} AS step, (SELECT vec_id FROM p{i}) AS vec_id, "
            f"round((SELECT score FROM p{i}), 6) AS score, "
            f"round((SELECT rel FROM p{i}), 6) AS rel"
        )
    return (
        "WITH "
        + ",\n".join(stages)
        + "\n"
        + " UNION ALL ".join(selects)
        + " ORDER BY step"
    )


@query("q215_mmr_rerank", oracle=_mmr_sql(5, 0.7, 0.3))
def q215_mmr_rerank(spark, sf_dir):
    """Maximal-Marginal-Relevance re-ranking of the corpus against
    anchor vector 0: five picks trading relevance against redundancy
    (lam=0.7) — the diversified-retrieval step a RAG stack runs
    after ANN so the context window isn't five copies of one
    passage. The oracle replays all five argmax stages as chained
    MATERIALIZED SQL; cosines are the fold-form dot measured
    bit-equal to list_cosine_similarity. See
    :func:`maston_spark.llm.similarity.mmr_rerank` (Carbonell &
    Goldstein 1998)."""
    from maston_spark.llm import similarity as SIM

    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.mmr_rerank(emb, query_id=0, k=5, lam=0.7, mu=0.3)


@query(
    "q223_priority_sample",
    oracle="""
    SELECT doc_id, n_chars,
           (CAST(n_chars AS BIGINT) * 4294967296)
           // (('0x' || substr(md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
             AS priority
    FROM documents WHERE n_chars > 0
    ORDER BY priority DESC, doc_id LIMIT 50
    """,
)
def q223_priority_sample(spark, sf_dir):
    """Deterministic weight-proportional sample without replacement:
    top-50 documents by the exact-integer Duffield-Lund-Thorup
    priority ``n_chars · 2³² div (md5 lane + 1)`` — weighted
    reservoir sampling as a stateless projection + TakeOrdered, the
    same rows on any engine, partitioning, or rerun (no libm ln/pow
    in the priority). See
    :func:`maston_spark.llm.sampling.priority_sample`."""
    from maston_spark.llm.sampling import priority_sample

    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return priority_sample(d, "doc_id", "n_chars", k=50)


@query(
    "q224_neyman_allocation",
    oracle="""
    WITH per AS (
      SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(n_chars AS DECIMAL(18,9))) AS DOUBLE) AS sx,
             CAST(sum(CAST(n_chars AS DECIMAL(18,9))
                      * CAST(n_chars AS DECIMAL(18,9))) AS DOUBLE) AS sxx
      FROM documents WHERE n_chars IS NOT NULL GROUP BY source),
    sdw AS (
      SELECT stratum, n_rows,
             sqrt(greatest((sxx - sx * sx / CAST(n_rows AS DOUBLE))
                           / CAST(n_rows AS DOUBLE), 0.0)) AS sd_raw
      FROM per),
    w2 AS (
      SELECT stratum, n_rows, round(sd_raw, 6) AS sd,
             CAST(round(CAST(n_rows AS DOUBLE) * sd_raw, 6)
                  AS DECIMAL(28,6)) AS w
      FROM sdw),
    t AS (SELECT sum(w) AS wtot FROM w2),
    sh AS (
      SELECT stratum, n_rows, sd,
             CASE WHEN wtot > 0
                  THEN CAST(w AS DOUBLE) / CAST(wtot AS DOUBLE)
                  ELSE 0.0 END AS share_raw
      FROM w2, t),
    q AS (
      SELECT stratum, n_rows, sd, round(share_raw, 6) AS share,
             CAST(floor(least(share_raw * 100.0, CAST(n_rows AS DOUBLE)))
                  AS BIGINT) AS fbase,
             round(least(share_raw * 100.0, CAST(n_rows AS DOUBLE))
                   - floor(least(share_raw * 100.0,
                                 CAST(n_rows AS DOUBLE))), 9) AS rem
      FROM sh),
    b AS (SELECT sum(fbase) AS btot FROM q),
    r AS (SELECT q.*, btot,
                 row_number() OVER (ORDER BY rem DESC, stratum) AS rk
          FROM q, b)
    SELECT stratum, n_rows, sd, share,
           CAST(least(fbase + CASE WHEN rk <= least(100 - btot, 100)
                                   THEN 1 ELSE 0 END,
                      n_rows) AS BIGINT) AS alloc
    FROM r ORDER BY stratum
    """,
)
def q224_neyman_allocation(spark, sf_dir):
    """Neyman-optimal allocation of a 100-row eval-sample budget
    across sources, proportional to N_h·σ_h of document length —
    variance-minimizing stratified sampling (Neyman 1934) with
    exact decimal moments, correctly-rounded sqrt, and deterministic
    largest-remainder integer apportionment, all replayed by the
    oracle. See
    :func:`maston_spark.llm.sampling.neyman_allocation`."""
    from maston_spark.llm.sampling import neyman_allocation

    d = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    return neyman_allocation(d, "source", "n_chars", n_total=100)


@query(
    "q227_ipf_raking",
    oracle="""
    WITH cells AS (SELECT source AS r, lang AS c,
                          CAST(count(*) AS BIGINT) AS n
                   FROM documents
                   WHERE source IS NOT NULL AND lang IS NOT NULL
                   GROUP BY source, lang),
    t AS (SELECT CAST(sum(n) AS DOUBLE) AS nn,
                 CAST(count(DISTINCT r) AS DOUBLE) AS nr,
                 CAST(count(DISTINCT c) AS DOUBLE) AS nc
          FROM cells),
    w0 AS (SELECT r, c, n, CAST(n AS DECIMAL(28,9)) AS w FROM cells),
    s1 AS (SELECT w0.*, nn, nr, nc,
                  sum(w) OVER (PARTITION BY r) AS ms
           FROM w0, t),
    w1 AS (SELECT r, c, n, nn, nr, nc,
                  CAST(round(CAST(w AS DOUBLE) * ((nn / nr) / CAST(ms AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM s1),
    s2 AS (SELECT w1.*, sum(w) OVER (PARTITION BY c) AS ms FROM w1),
    w2 AS (SELECT r, c, n, nn, nr, nc,
                  CAST(round(CAST(w AS DOUBLE) * ((nn / nc) / CAST(ms AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM s2),
    s3 AS (SELECT w2.*, sum(w) OVER (PARTITION BY r) AS ms FROM w2),
    w3 AS (SELECT r, c, n, nn, nr, nc,
                  CAST(round(CAST(w AS DOUBLE) * ((nn / nr) / CAST(ms AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM s3),
    s4 AS (SELECT w3.*, sum(w) OVER (PARTITION BY c) AS ms FROM w3),
    w4 AS (SELECT r, c, n,
                  CAST(round(CAST(w AS DOUBLE) * ((nn / nc) / CAST(ms AS DOUBLE)), 9)
                       AS DECIMAL(28,9)) AS w
           FROM s4)
    SELECT r AS source, c AS lang, n,
           round(CAST(w AS DOUBLE), 6) AS weight
    FROM w4 ORDER BY source, lang
    """,
)
def q227_ipf_raking(spark, sf_dir):
    """Iterative proportional fitting (raking) of the source x lang
    contingency cells toward uniform margins — the Deming-Stephan
    1940 survey-calibration weights, 2 fixed iterations, every
    scaling IEEE with round-to-9 decimal margins in between so both
    engines replay the sequence bit-for-bit. See
    :func:`maston_spark.llm.sampling.ipf_rake`."""
    from maston_spark.llm.sampling import ipf_rake

    d = load_table(spark, sf_dir, "documents").select("source", "lang")
    return ipf_rake(d, "source", "lang", iterations=2)


@query(
    "q251_golden_record",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text,
             CASE WHEN doc_id % 3 = 0 THEN 'xx' ELSE lang END AS lang,
             source
      FROM documents WHERE doc_id % 7 = 0),
    cl AS (SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS cluster,
                  lang, source
           FROM corpus),
    melted AS (
      SELECT cluster, 'lang' AS field, CAST(lang AS VARCHAR) AS value FROM cl
      UNION ALL
      SELECT cluster, 'source' AS field, CAST(source AS VARCHAR) AS value FROM cl),
    votes AS (SELECT cluster, field, value, CAST(count(*) AS BIGINT) AS n_votes
              FROM melted WHERE value IS NOT NULL GROUP BY cluster, field, value),
    ranked AS (SELECT cluster, field, value, n_votes,
                      CAST(sum(n_votes) OVER (PARTITION BY cluster, field) AS BIGINT)
                        AS n_rows,
                      row_number() OVER (PARTITION BY cluster, field
                                         ORDER BY n_votes DESC, value) AS rn
               FROM votes)
    SELECT cluster, field, value, n_votes, n_rows,
           round(CAST(n_votes AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS agreement
    FROM ranked WHERE rn = 1 ORDER BY cluster, field
    """,
)
def q251_golden_record(spark, sf_dir):
    """Survivorship merge over exact-dup clusters on a corpus with
    planted re-uploads whose language tag was corrupted (every third
    replica says 'xx') — per (cluster, field) the modal value wins
    with its agreement ratio, so the golden record heals the bad
    copies instead of inheriting whichever row the keeper pick kept.
    See :func:`maston_spark.llm.dedup.survivorship_merge`."""
    from maston_spark.llm.dedup import content_hash, survivorship_merge

    d = load_table(spark, sf_dir, "documents")
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        F.when(F.col("doc_id") % 3 == 0, F.lit("xx"))
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
    )
    corpus = d.select("doc_id", "text", "lang", "source").unionByName(dup)
    clustered = corpus.select(
        content_hash(F.col("text")).alias("cluster"), "lang", "source"
    )
    return survivorship_merge(clustered, "cluster", ["lang", "source"])


@query(
    "q257_effective_sample_size",
    oracle="""
    WITH d AS (SELECT source AS "group",
                      CAST(round(CAST(len(string_split(trim(text), ' ')) AS DOUBLE), 6)
                           AS DECIMAL(18,6)) AS w
               FROM documents
               WHERE source IS NOT NULL AND text IS NOT NULL
                 AND len(string_split(trim(text), ' ')) > 0),
    a AS (SELECT "group", CAST(count(*) AS BIGINT) AS n_rows,
                 sum(w) AS sw, sum(w * w) AS sww, max(w) AS mw
          FROM d GROUP BY "group")
    SELECT "group", n_rows,
           round(CAST(sw AS DOUBLE), 6) AS sum_w,
           round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sww AS DOUBLE), 6) AS n_eff,
           round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sww AS DOUBLE)
                 / CAST(n_rows AS DOUBLE), 6) AS eff_ratio,
           round(CAST(mw AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS max_w_share
    FROM a ORDER BY "group"
    """,
)
def q257_effective_sample_size(spark, sf_dir):
    """Kish effective sample size of each source under TOKEN
    weighting — after any token-weighted mixture step (q189's
    water-fill, DSIR reweighting), how many documents does a source
    effectively contribute? ``n_eff = (Σw)²/Σw²`` with the
    concentration culprit (max single-doc weight share) named. See
    :func:`maston_spark.llm.sampling.effective_sample_size`."""
    from maston_spark.llm.sampling import effective_sample_size

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull() & F.col("text").isNotNull()
    )
    wc = F.size(F.split(F.trim(F.col("text")), " "))
    weighted = d.select("source", wc.alias("w")).filter(F.col("w") > 0)
    return effective_sample_size(weighted, "source", "w")


# Shared Lloyd-replay oracle prefix (identical to q119's fit: k=4
# seeds by smallest vec_id, one decimal-exact centroid update, final
# round-9 assignment) — q284/q285 extend it with their closing math
# so all three queries grade the SAME fit.
_KMEANS_CTE = """
    WITH e AS (SELECT vec_id AS id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    c0 AS (SELECT CAST(row_number() OVER (ORDER BY id) AS INT) AS cid, v AS c
           FROM (SELECT id, v FROM e ORDER BY id LIMIT 4)),
    p1 AS (SELECT e.id, e.v, c0.cid,
                  round(list_sum(list_transform(range(1, len(e.v) + 1),
                        i -> (e.v[i] - c0.c[i]) * (e.v[i] - c0.c[i]))), 9) AS d
           FROM e, c0),
    a1 AS (SELECT id, v, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
             FROM p1) WHERE rn = 1),
    dims AS (SELECT cid, i - 1 AS dim, v[i] AS x
             FROM a1, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) t),
    upd AS (SELECT cid, dim,
                   round(CAST(sum(CAST(round(x, 9) AS DECIMAL(28,9)))
                         AS DOUBLE) / count(*), 9) AS m
            FROM dims GROUP BY 1, 2),
    c1 AS (SELECT cid, list(m ORDER BY dim) AS c FROM upd GROUP BY cid),
    p2 AS (SELECT e.id, c1.cid,
                  round(list_sum(list_transform(range(1, len(e.v) + 1),
                        i -> (e.v[i] - c1.c[i]) * (e.v[i] - c1.c[i]))), 9) AS d
           FROM e, c1),
    a2 AS (SELECT id, cid, d FROM (
             SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cid) AS rn
             FROM p2) WHERE rn = 1)
"""


@query(
    "q284_davies_bouldin",
    oracle=_KMEANS_CTE
    + """,
    sc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_rows,
                  sqrt(CAST(sum(CAST(d AS DECIMAL(38,9))) AS DOUBLE)
                       / count(*)) AS s
           FROM a2 GROUP BY cid),
    cd AS (SELECT ca.cid AS ci, cb.cid AS cj,
                  CAST(round(ca.c[t.ix] * 1e9) AS HUGEINT) AS xa,
                  CAST(round(cb.c[t.ix] * 1e9) AS HUGEINT) AS xb
           FROM c1 ca, c1 cb,
                LATERAL (SELECT unnest(range(1, len(ca.c) + 1)) AS ix) t
           WHERE ca.cid <> cb.cid),
    cp AS (SELECT ci, cj,
                  sqrt(CAST(sum((xa - xb) * (xa - xb)) AS DOUBLE) / 1e18) AS m
           FROM cd GROUP BY ci, cj),
    r AS (SELECT cp.ci, max((si.s + sj.s) / cp.m) AS rmax
          FROM cp JOIN sc si ON si.cid = cp.ci
                  JOIN sc sj ON sj.cid = cp.cj
          GROUP BY cp.ci),
    ix AS (SELECT CAST(sum(CAST(round(rmax, 9) AS DECIMAL(38,9))) AS DOUBLE)
                  / count(rmax) AS dbi FROM r)
    SELECT sc.cid AS cluster, sc.n_rows, round(sc.s, 6) AS scatter,
           round(r.rmax, 6) AS r_max, round(ix.dbi, 6) AS db_index
    FROM sc LEFT JOIN r ON r.ci = sc.cid CROSS JOIN ix
    ORDER BY cluster
    """,
)
def q284_davies_bouldin(spark, sf_dir):
    """Davies-Bouldin audit of the q119 k-means cells: within-cell
    scatter, worst neighbor-similarity ratio per cell, and the
    overall index — the "are these cells even good" gate before
    trusting semantic dedup's keep-one-per-cell deletions. See
    :func:`maston_spark.llm.similarity.davies_bouldin`."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.davies_bouldin(e, k=4, iterations=2)


@query(
    "q285_silhouette",
    oracle=_KMEANS_CTE
    + """,
    o AS (SELECT p2.id, a2.cid, a2.d, min(p2.d) AS bsq
          FROM p2 JOIN a2 ON p2.id = a2.id AND p2.cid <> a2.cid
          GROUP BY p2.id, a2.cid, a2.d),
    sl AS (SELECT id, cid,
                  CASE WHEN greatest(sqrt(d), sqrt(bsq)) > 0
                       THEN (sqrt(bsq) - sqrt(d))
                            / greatest(sqrt(d), sqrt(bsq))
                       ELSE 0.0 END AS sil
           FROM o),
    lane AS (SELECT cid,
                    CAST(round(round(sil, 9) * 1e9) AS BIGINT) AS l
             FROM sl)
    SELECT cid AS cluster, CAST(count(*) AS BIGINT) AS n_rows,
           round(CAST(sum(CAST(l AS HUGEINT)) AS DOUBLE)
                 / (count(*) * 1e9), 6) AS mean_silhouette,
           CAST(coalesce(sum(CASE WHEN l < 0 THEN 1 END), 0) AS BIGINT)
             AS n_negative
    FROM lane GROUP BY cid ORDER BY cluster
    """,
)
def q285_silhouette(spark, sf_dir):
    """Centroid-approximated silhouette of the q119 k-means cells:
    per-cell mean s and the count of points sitting closer to a
    RIVAL centroid — the mis-assignment list semantic dedup should
    check before deleting. Exact O(n²) silhouette rejected by
    contract (all-pairs); see
    :func:`maston_spark.llm.similarity.silhouette_centroid`."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return SIM.silhouette_centroid(e, k=4, iterations=2)


@query(
    "q291_leakage_safe_split",
    oracle="""
    WITH RECURSIVE corpus AS (
      SELECT doc_id AS id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' xyz xyz xyz' FROM documents WHERE doc_id % 5 = 0),
    toks AS (SELECT id, string_split(text, ' ') AS t FROM corpus),
    sh AS (
      SELECT id,
             list_distinct(CASE WHEN len(t) >= 3
               THEN list_transform(range(1, len(t) - 1),
                                   i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END) AS sh
      FROM toks),
    sh2 AS (SELECT id, sh FROM sh WHERE len(sh) > 0),
    hv AS (
      SELECT id, list_distinct(
               list_transform(sh, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)) AS hv
      FROM sh2),
    sig AS (
      SELECT id,
             list_transform(range(0, 16),
               s -> list_min(list_transform(hv,
                      h -> ((1664525 + 2*s) * h + 1013904223 + s) % 4294967311))) AS sig
      FROM hv),
    buckets AS (
      SELECT id, b,
             md5(array_to_string(sig[(b*4+1):(b*4+4)], '|')) AS bucket
      FROM sig CROSS JOIN range(0, 4) r(b)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM buckets a JOIN buckets b ON a.b = b.b AND a.bucket = b.bucket AND a.id < b.id),
    jac AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN hv ha ON ha.id = c.id_a
      JOIN hv hb ON hb.id = c.id_b
      WHERE round(len(list_intersect(ha.hv, hb.hv))::DOUBLE
                  / len(list_distinct(ha.hv || hb.hv)), 6) >= 0.2),
    sym AS (
      SELECT id_a AS a, id_b AS b FROM jac
      UNION SELECT id_b, id_a FROM jac),
    reach AS (
      SELECT id, id AS r FROM corpus
      UNION
      SELECT s.b AS id, reach.r FROM reach JOIN sym s ON s.a = reach.id),
    comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY id),
    marked AS (
      SELECT id, cluster,
             CASE WHEN ('0x' || substr(md5('split:' || cluster), 1, 8))::BIGINT
                       % 1000 < 800 THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || cluster), 1, 8))::BIGINT
                       % 1000 < 900 THEN 'val'
                  ELSE 'test' END AS split,
             CASE WHEN ('0x' || substr(md5('split:' || id), 1, 8))::BIGINT
                       % 1000 < 800 THEN 'train'
                  WHEN ('0x' || substr(md5('split:' || id), 1, 8))::BIGINT
                       % 1000 < 900 THEN 'val'
                  ELSE 'test' END AS naive_split
      FROM comp),
    ev AS (
      SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs,
             CAST(coalesce(sum(CASE WHEN ma.split <> mb.split
                                    THEN 1 END), 0) AS BIGINT)
               AS cluster_cross_pairs,
             CAST(coalesce(sum(CASE WHEN ma.naive_split <> mb.naive_split
                                    THEN 1 END), 0) AS BIGINT)
               AS naive_cross_pairs
      FROM jac JOIN marked ma ON ma.id = jac.id_a
               JOIN marked mb ON mb.id = jac.id_b),
    d AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
             CAST(coalesce(sum(CASE WHEN split = 'train' THEN 1 END), 0)
                  AS BIGINT) AS train_docs,
             CAST(coalesce(sum(CASE WHEN split = 'val' THEN 1 END), 0)
                  AS BIGINT) AS val_docs,
             CAST(coalesce(sum(CASE WHEN split = 'test' THEN 1 END), 0)
                  AS BIGINT) AS test_docs
      FROM marked)
    SELECT d.n_docs, d.n_clusters, d.train_docs, d.val_docs, d.test_docs,
           ev.n_dup_pairs, ev.cluster_cross_pairs, ev.naive_cross_pairs
    FROM d CROSS JOIN ev
    """,
)
def q291_leakage_safe_split(spark, sf_dir):
    """The leakage-safety CERTIFICATION row for q164's splitter —
    the identity-claim grading pattern of q207/q244 applied to
    dedup-aware splitting: run :func:`maston_spark.llm.sampling.
    cluster_safe_split` (q164's exact assignment — whole q55
    clusters to train/val/test by the cluster-label md5 lane), then
    count verified near-dup pairs whose endpoints straddle splits.
    ``cluster_cross_pairs`` must be 0 — the claim q164 makes but
    nothing previously GRADED — while ``naive_cross_pairs`` replays
    q126's doc-hash audit on the same frame as the counterfactual
    (40 of 134 pairs would leak at sf0.01). One row; the oracle
    replays clustering, both lane conventions, and both counts."""
    corpus = _neardup_corpus(spark, sf_dir)
    mf = scoped_persist(DD.minhash_frame(corpus, shingle_n=3, num_hashes=16))
    cands = DD.candidates_from_minhash(mf, num_hashes=16, band_size=4)
    edges = scoped_persist(DD.jaccard_from_lanes(mf, cands, threshold=0.2))
    verts = corpus.select(F.col("doc_id").alias("id"))
    from maston_spark.llm import sampling as SAMP

    marked = scoped_persist(
        SAMP.cluster_safe_split(verts, edges).withColumn(
            "naive_split", SAMP.split_expr("id")
        )
    )
    ma = marked.select(
        F.col("id").alias("id_a"),
        F.col("split").alias("__sa"),
        F.col("naive_split").alias("__na"),
    )
    mb = marked.select(
        F.col("id").alias("id_b"),
        F.col("split").alias("__sb"),
        F.col("naive_split").alias("__nb"),
    )
    ev = (
        edges.select("id_a", "id_b")
        .join(ma, "id_a")
        .join(mb, "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_dup_pairs"),
            F.coalesce(
                F.sum((F.col("__sa") != F.col("__sb")).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("cluster_cross_pairs"),
            F.coalesce(
                F.sum((F.col("__na") != F.col("__nb")).cast("long")), F.lit(0)
            )
            .cast("long")
            .alias("naive_cross_pairs"),
        )
    )
    d = marked.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster").cast("long").alias("n_clusters"),
        F.coalesce(
            F.sum((F.col("split") == "train").cast("long")), F.lit(0)
        )
        .cast("long")
        .alias("train_docs"),
        F.coalesce(F.sum((F.col("split") == "val").cast("long")), F.lit(0))
        .cast("long")
        .alias("val_docs"),
        F.coalesce(F.sum((F.col("split") == "test").cast("long")), F.lit(0))
        .cast("long")
        .alias("test_docs"),
    )
    return d.crossJoin(F.broadcast(ev)).select(
        "n_docs",
        "n_clusters",
        "train_docs",
        "val_docs",
        "test_docs",
        "n_dup_pairs",
        "cluster_cross_pairs",
        "naive_cross_pairs",
    )


@query(
    "q295_rake_keyphrases",
    oracle="""
    WITH toks AS (
      SELECT doc_id AS doc, i - 1 AS pos, t[i] AS tok
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
            FROM documents
            WHERE text IS NOT NULL AND doc_id IS NOT NULL) d,
           LATERAL (SELECT unnest(range(1, len(d.t) + 1)) AS i) u),
    good AS (
      SELECT doc, pos, tok
      FROM toks
      WHERE regexp_matches(tok, '^[a-z]+$')
        AND tok NOT IN ('the', 'a', 'of', 'and', 'to')),
    runs AS (
      SELECT doc, pos, tok,
             pos - row_number() OVER (PARTITION BY doc ORDER BY pos) AS r
      FROM good),
    phrases AS (
      SELECT doc, r, string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS INT) AS n_words
      FROM runs GROUP BY doc, r
      HAVING count(*) <= 4),
    pw AS (
      SELECT n_words, unnest(string_split(phrase, ' ')) AS w FROM phrases),
    ws AS (
      SELECT w, (2 * CAST(sum(n_words) AS HUGEINT) * 1000000
                 + count(*)) // (2 * CAST(count(*) AS HUGEINT)) AS s
      FROM pw GROUP BY w),
    dp AS (
      SELECT phrase, n_words, CAST(count(*) AS BIGINT) AS support
      FROM phrases GROUP BY phrase, n_words),
    scored AS (
      SELECT dp.phrase, dp.n_words, dp.support,
             sum(ws.s) AS sc
      FROM dp, LATERAL (SELECT unnest(string_split(dp.phrase, ' ')) AS w) x
           JOIN ws ON ws.w = x.w
      GROUP BY dp.phrase, dp.n_words, dp.support)
    SELECT phrase, n_words, support, CAST(sc AS DOUBLE) / 1e6 AS score
    FROM scored ORDER BY score DESC, phrase ASC LIMIT 20
    """,
)
def q295_rake_keyphrases(spark, sf_dir):
    """Corpus top-20 RAKE keyphrases: maximal content-token runs
    scored by the degree/frequency word graph — the phrase-level
    vocabulary lens beside token-level PMI (q147-family) and tf-idf
    (q97). See :func:`maston_spark.llm.text.rake_keyphrases`."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return TXT.rake_keyphrases(d, "doc_id", "text", top_k=20)


@query(
    "q303_contamination_prefix",
    oracle="""
    WITH t AS (SELECT doc_id, source,
                      string_split(text, ' ') AS toks
               FROM documents
               WHERE doc_id IS NOT NULL AND text IS NOT NULL
                 AND source IS NOT NULL),
    g AS (SELECT doc_id, source,
                 unnest(list_transform(range(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+2], ' '))) AS gram
          FROM t WHERE len(toks) >= 3),
    dg AS (SELECT DISTINCT doc_id, source, gram FROM g),
    bench AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 97 = 0),
    corpus AS (SELECT * FROM dg WHERE doc_id % 97 <> 0),
    per_doc AS (SELECT c.source, c.doc_id,
                       CAST(count(*) AS BIGINT) AS g,
                       CAST(sum(CASE WHEN b.gram IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT) AS h
                FROM corpus c LEFT JOIN bench b USING (gram)
                GROUP BY 1, 2),
    counts AS (SELECT source AS "group",
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(g) AS BIGINT) AS n_grams,
                      CAST(sum(h) AS BIGINT) AS n_hits,
                      CAST(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_docs_hit
               FROM per_doc GROUP BY 1)
    SELECT "group", n_docs, n_grams,
           n_hits AS n_contaminated,
           n_docs_hit AS n_docs_contaminated,
           CASE WHEN n_grams > 0
                THEN round(n_hits::DOUBLE / n_grams, 6) END AS gram_frac,
           CASE WHEN n_docs > 0
                THEN round(n_docs_hit::DOUBLE / n_docs, 6) END AS doc_rate
    FROM counts ORDER BY "group"
    """,
)
def q303_contamination_prefix(spark, sf_dir):
    """TENTH topology's fold-identity twin: the streaming
    contamination gate's per-source counters replayed as a 3-batch
    additive fold (docs split by doc_id % 3, probed against the q77
    eval set) with the SAME :func:`maston_spark.sketches.sum_counts`
    the topology calls, and closed with the SAME
    :func:`maston_spark.llm.text.contamination_from_counts` math the
    topology emits — the incremental-equals-one-shot claim graded
    cross-engine: per-doc fractions don't fold, counters do."""
    from maston_spark.llm.text import (
        contamination_counts,
        contamination_from_counts,
    )
    from maston_spark.sketches import sum_counts

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
        & F.col("text").isNotNull()
        & F.col("source").isNotNull()
    ).select("doc_id", "source", "text")
    bench_grams = (
        d.filter(F.col("doc_id") % 97 == 0)
        # literal single-space split — the contamination_counts
        # tokenization, so bench and corpus grams can never diverge
        .select(F.split(F.col("text"), " ").alias("__toks"))
        .filter(F.size("__toks") >= 3)
        .select(
            F.expr(
                "explode(transform(sequence(0, size(__toks) - 3), "
                "i -> concat_ws(' ', slice(__toks, i + 1, 3))))"
            ).alias("__gram")
        )
        .distinct()
    )
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    folded = None
    for b in range(3):
        c = contamination_counts(
            corpus.filter(F.pmod(F.col("doc_id"), F.lit(3)) == b),
            bench_grams,
            "source",
            id_col="doc_id",
            text_col="text",
            n=3,
        )
        folded = sum_counts(
            c, folded, ["group"], ["n_docs", "n_grams", "n_hits", "n_docs_hit"]
        )
    return contamination_from_counts(folded)


@query(
    "q304_wasserstein_drift",
    oracle="""
    WITH m AS (SELECT source AS g,
                      CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS v
               FROM documents),
    counts AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c
               FROM m GROUP BY 1, 2),
    grid AS (SELECT gv.v, gg.g
             FROM (SELECT DISTINCT v FROM counts) gv,
                  (SELECT DISTINCT g FROM counts) gg),
    filled AS (SELECT grid.g, grid.v, coalesce(c.c, 0) AS c
               FROM grid LEFT JOIN counts c
                 ON c.g = grid.g AND c.v = grid.v),
    cum AS (SELECT g, v,
                   CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT)
                     AS cum_g,
                   lead(v) OVER (PARTITION BY g ORDER BY v) AS nv
            FROM filled),
    pv AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM counts GROUP BY 1),
    pv2 AS (SELECT v, CAST(sum(cv) OVER (ORDER BY v) AS BIGINT) AS cum_all
            FROM pv),
    sizes AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_group
              FROM counts GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM counts),
    sc AS (SELECT cum.g, sizes.n_group,
                  tot.n - sizes.n_group AS n_rest,
                  abs(CAST(tot.n AS HUGEINT) * cum.cum_g
                      - CAST(sizes.n_group AS HUGEINT) * pv2.cum_all)
                    * (cum.nv - cum.v) AS d
           FROM cum
           JOIN pv2 ON pv2.v = cum.v
           JOIN sizes ON sizes.g = cum.g, tot
           WHERE cum.nv IS NOT NULL)
    SELECT g AS "group", n_group, n_rest,
           CAST((2 * sum(d) * 1000000
                 + CAST(n_group AS HUGEINT) * n_rest)
                // (2 * CAST(n_group AS HUGEINT) * n_rest) AS DOUBLE)
             / 1e6 AS w1
    FROM sc GROUP BY 1, 2, 3
    ORDER BY "group"
    """,
)
def q304_wasserstein_drift(spark, sf_dir):
    """Wasserstein-1 (earth-mover) drift of each source's per-doc
    token-count distribution against the rest of the corpus — the
    mass×distance drift geometry beside q178's KS sup-norm and
    q194's binned L1: a profile that SHIFTED far reads big here even
    when its worst single CDF crossing is modest. Exact decimal fold
    over the merged grid, one half-away micro close. See
    :func:`maston_spark.profiling.wasserstein_drift`."""
    from maston_spark.profiling import wasserstein_drift

    d = load_table(spark, sf_dir, "documents").select("source", "text")
    m = d.select(
        "source",
        # literal single-space split (the rake convention): matches
        # the oracle's string_split(trim(text), ' ') on EVERY input,
        # not just the single-spaced synthetic corpus
        F.size(F.split(F.trim("text"), " ")).cast("long").alias("n_tokens"),
    )
    return wasserstein_drift(m, "source", "n_tokens")
