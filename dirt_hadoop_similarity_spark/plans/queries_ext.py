"""Extension queries: dedup, similarity search, text analysis, multimodal.

Registered into the same ``QUERIES`` registry as the core set.  Every
hash used here is md5-derived (see operators/dedup.hash60) so the DuckDB
oracles verify bit-identical signatures, not just row counts; cosine
arithmetic is quantized to integers so dot products compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.functions import textfns
from dirt_hadoop_similarity_spark.operators import dedup, multimodal, similarity
from dirt_hadoop_similarity_spark.plans.queries import QUERIES, load, register

# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash,
           CAST(min(doc_id) AS BIGINT) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY md5(text) HAVING count(*) > 1
    """,
    "Exact dedup: md5 groupBy duplicate groups.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(load(spark, sf_dir, "documents"))


_SHINGLES_SQL = """
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 1
"""

_H60 = "CAST(('0x' || substr(md5({expr}), 1, 15)) AS UBIGINT)::BIGINT"


_H60_MASK = (1 << 60) - 1


def _minhash_sql(num_hashes: int = 8) -> str:
    # double hashing, mirroring dedup.minhash_signatures: two md5 base
    # hashes per shingle, h_k = (h1 + k*h2) & (2^60-1) exact in BIGINT
    cols = ",\n         ".join(
        f"min((_h1 + {k} * _h2) & {_H60_MASK}) AS h{k}"
        for k in range(num_hashes)
    )
    return f"""
  SELECT doc_id, {cols}
  FROM (SELECT doc_id,
               {_H60.format(expr="'0|' || shingle")} AS _h1,
               {_H60.format(expr="'1|' || shingle")} AS _h2
        FROM ({_SHINGLES_SQL}))
  GROUP BY doc_id
"""


_MINHASH_LSH_SQL = f"""
WITH sig AS ({_minhash_sql(8)}),
banded AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)
           WHEN 1 THEN CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)
           WHEN 2 THEN CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)
           ELSE        CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR)
         END AS key
  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(count(*) AS BIGINT) AS n_bands_matched
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.id_a, c.id_b, c.n_bands_matched,
       round((
         (CASE WHEN sa.h0 = sb.h0 THEN 1 ELSE 0 END) +
         (CASE WHEN sa.h1 = sb.h1 THEN 1 ELSE 0 END) +
         (CASE WHEN sa.h2 = sb.h2 THEN 1 ELSE 0 END) +
         (CASE WHEN sa.h3 = sb.h3 THEN 1 ELSE 0 END) +
         (CASE WHEN sa.h4 = sb.h4 THEN 1 ELSE 0 END) +
         (CASE WHEN sa.h5 = sb.h5 THEN 1 ELSE 0 END) +
         (CASE WHEN sa.h6 = sb.h6 THEN 1 ELSE 0 END) +
         (CASE WHEN sa.h7 = sb.h7 THEN 1 ELSE 0 END)) / 8.0, 6) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
"""


@register(
    "dedup_minhash_lsh",
    _MINHASH_LSH_SQL,
    "MinHash+LSH near-dup candidates: shingle → 8 minhashes → 4 bands "
    "→ band-bucket join → estimated Jaccard.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_duplicates(
        load(spark, sf_dir, "documents"), n=3, num_hashes=8, bands=4,
        rows_per_band=2,
    )


_LSH_VERIFIED_SQL = f"""
WITH cand AS ({_MINHASH_LSH_SQL}),
sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT c.id_a, c.id_b, c.est_jaccard,
       CAST(COALESCE(m.n_common, 0) AS BIGINT) AS n_common,
       round(CAST(COALESCE(m.n_common, 0) AS DOUBLE)
             / (za.sz + zb.sz - COALESCE(m.n_common, 0)), 6) AS jaccard
FROM cand c
LEFT JOIN common m ON m.id_a = c.id_a AND m.id_b = c.id_b
JOIN sizes za ON za.doc_id = c.id_a
JOIN sizes zb ON zb.doc_id = c.id_b
"""


@register(
    "dedup_lsh_verified",
    _LSH_VERIFIED_SQL,
    "The composed production near-dup path: banded-LSH candidates, each "
    "verified with the EXACT shingle Jaccard — sketch to find, exact to "
    "decide.  Verification joins candidates against per-doc shingles on "
    "the DOC id, so its shuffle is |candidates| + their shingles, never "
    "the all-intersecting-pairs blowup of standalone jaccard_pairs.",
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.verified_near_duplicates(
        load(spark, sf_dir, "documents"), n=3, num_hashes=8, bands=4,
        rows_per_band=2,
    )


_JACCARD_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT c.id_a, c.id_b, c.n_common,
       round(CAST(c.n_common AS DOUBLE) / (sa.sz + sb.sz - c.n_common), 6) AS jaccard
FROM common c
JOIN sizes sa ON sa.doc_id = c.id_a
JOIN sizes sb ON sb.doc_id = c.id_b
WHERE CAST(c.n_common AS DOUBLE) / (sa.sz + sb.sz - c.n_common) >= 0.10
"""


@register(
    "dedup_ngram_jaccard",
    _JACCARD_SQL,
    "Exact 3-gram Jaccard over intersecting pairs (LSH verification path).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.jaccard_pairs(load(spark, sf_dir, "documents"), n=3,
                               min_jaccard=0.10)


def _simhash_sql(bits: int = 16) -> str:
    th = _H60.format(expr="'0|' || tok")
    bit_sums = ",\n         ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {th} AS th
  FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS tok
        FROM documents)
),
per_bit AS (SELECT doc_id, {bit_sums} FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM per_bit
"""


@register(
    "dedup_simhash",
    _simhash_sql(16),
    "SimHash fingerprints (16-bit) per document — near-dup by Hamming.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load(spark, sf_dir, "documents"), bits=16)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_ANN_QUERY_IDS = list(range(10))

#: the testdata embedding dimension — the declared index dim for the
#: similarity.valid_vectors admission gate and its oracle predicate
_EMB_DIM = 64
_VALID_EMB = f"embedding IS NOT NULL AND len(embedding) = {_EMB_DIM}"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings relation behind the index-admission gate every
    ANN query shares (similarity.valid_vectors): NULL vectors (failed
    embedding jobs) and ragged ones (mixed model versions) crash the
    GEMM/IVF/PQ panel collects (numpy inhomogeneous shape), NULL-pad
    zip_with dot products, and break DuckDB's list functions — all
    observed on the embeddings-null sweep corpus
    (tests/test_embedding_null_inputs.py).  Scan-level filter; every
    oracle carries the same ``_VALID_EMB`` predicate."""
    return similarity.valid_vectors(
        load(spark, sf_dir, "embeddings"), dim=_EMB_DIM
    )

_ANN_SQL = f"""
WITH qv AS (
  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
          AND {_VALID_EMB})
),
cv AS (
  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB})
),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cv GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(sum(q.q * c.c) AS BIGINT) AS dot
  FROM qv q JOIN cv c ON c.i = q.i AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CASE WHEN sqrt(CAST(nq.n2 AS DOUBLE)) > 0
                     AND sqrt(CAST(nc.n2 AS DOUBLE)) > 0
                    THEN CAST(d.dot AS DOUBLE)
                         / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
                    ELSE 0 END, 6) AS cos
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_cosine_topk",
    _ANN_SQL,
    "Brute-force cosine top-5 for 10 query vectors (quantized-int exact).",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_emb(spark, sf_dir), _ANN_QUERY_IDS, k=5)


@register(
    "ann_gemm_topk",
    _ANN_SQL,
    "Exact cosine top-5 via blocked int64 GEMM in mapInPandas — same "
    "oracle as ann_cosine_topk, BLAS-side compute, candidate-only "
    "shuffle (the 100 TB exact-scoring layout).",
)
def ann_gemm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_gemm(_emb(spark, sf_dir), _ANN_QUERY_IDS, k=5)


_LSH_BUCKET_SQL = f"""
  SELECT vec_id,
         CAST((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
            + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
            + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
            + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END)
            + (CASE WHEN embedding[5] >= 0 THEN 16 ELSE 0 END)
            + (CASE WHEN embedding[6] >= 0 THEN 32 ELSE 0 END)
            + (CASE WHEN embedding[7] >= 0 THEN 64 ELSE 0 END)
            + (CASE WHEN embedding[8] >= 0 THEN 128 ELSE 0 END) AS BIGINT) AS bucket
  FROM embeddings WHERE {_VALID_EMB}
"""

_ANN_LSH_SQL = f"""
WITH buckets AS ({_LSH_BUCKET_SQL}),
qv AS (
  SELECT e.vec_id, b.bucket, i,
         CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
          AND {_VALID_EMB}) e
  JOIN buckets b ON b.vec_id = e.vec_id
),
cv AS (
  SELECT e.vec_id, b.bucket, i,
         CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB}) e
  JOIN buckets b ON b.vec_id = e.vec_id
),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cv GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(sum(q.q * c.c) AS BIGINT) AS dot
  FROM qv q JOIN cv c ON c.i = q.i AND c.bucket = q.bucket AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))), 6) AS cos
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_lsh_topk",
    _ANN_LSH_SQL,
    "Sign-LSH bucketed approximate top-5 (8-bit axis-sign buckets).",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_bucket_topk(_emb(spark, sf_dir), _ANN_QUERY_IDS, k=5, bits=8)


_ANN_RECALL_SQL = f"""
WITH exact_r AS ({_ANN_SQL}),
approx_r AS ({_ANN_LSH_SQL}),
hits AS (
  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM exact_r e
  JOIN approx_r a
    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
),
qs AS (SELECT DISTINCT query_id FROM exact_r)
SELECT q.query_id,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall_at_5
FROM qs q LEFT JOIN hits h ON h.query_id = q.query_id
"""


@register(
    "ann_recall_eval",
    _ANN_RECALL_SQL,
    "Index-quality evaluation: per-query recall@5 of the sign-LSH "
    "index against the exact brute-force top-5 — the acceptance check "
    "run before trusting an ANN index at scale.  Pure composition of "
    "the two verified top-k plans; the comparison join is k-rows-per-"
    "query on both sides.",
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    # exact side on the GEMM engine (bit-identical to cosine_topk, the
    # hash-green ann_gemm_topk row proves it against the same oracle)
    exact = similarity.cosine_topk_gemm(emb, _ANN_QUERY_IDS, k=5)
    approx = similarity.lsh_bucket_topk(emb, _ANN_QUERY_IDS, k=5, bits=8)
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    spine = exact.select("query_id").distinct()
    return (
        spine.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce(F.col("n_hits"), F.lit(0)) / 5.0, 6)
            .alias("recall_at_5"),
        )
    )


# Signed-random-projection variant: the SAME int16 plane constants are
# embedded in both the Spark plan and the oracle SQL (derived once via
# similarity.random_hyperplanes), so bucketing is bit-exact cross-engine.
_RH_BITS, _RH_DIM = 8, 64
_RH_PLANES = similarity.random_hyperplanes(_RH_DIM, _RH_BITS)

_RH_BUCKET_SQL = "\n    + ".join(
    f"(CASE WHEN list_dot_product(ql, CAST([{', '.join(map(str, plane))}] AS BIGINT[])) >= 0 "
    f"THEN {1 << j} ELSE 0 END)"
    for j, plane in enumerate(_RH_PLANES)
)

_ANN_RH_SQL = f"""
WITH buckets AS (
  SELECT vec_id,
         CAST({_RH_BUCKET_SQL} AS BIGINT) AS bucket
  FROM (SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS ql
        FROM embeddings WHERE {_VALID_EMB})
),
qv AS (
  SELECT e.vec_id, b.bucket, i,
         CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
          AND {_VALID_EMB}) e
  JOIN buckets b ON b.vec_id = e.vec_id
),
cv AS (
  SELECT e.vec_id, b.bucket, i,
         CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB}) e
  JOIN buckets b ON b.vec_id = e.vec_id
),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cv GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(sum(q.q * c.c) AS BIGINT) AS dot
  FROM qv q JOIN cv c ON c.i = q.i AND c.bucket = q.bucket AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE))), 6) AS cos
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_rh_topk",
    _ANN_RH_SQL,
    "Signed-random-projection bucketed approximate top-5: 8 md5-derived "
    "int16 hyperplanes mixing all 64 coordinates per bit — the proper "
    "SRP family the axis-sign variant documents as its upgrade path; "
    "bucket ids bit-exact across engines via integer arithmetic.",
)
def ann_rh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.rh_bucket_topk(
        _emb(spark, sf_dir),
        _ANN_QUERY_IDS,
        k=5,
        bits=_RH_BITS,
        dim=_RH_DIM,
    )


# IVF-flat: the cell-partition scale path next to hash bucketing.  The
# oracle uses the deterministic seed codebook (vec_id < n_centroids) so
# assignment/probing are reproducible in pure SQL.
_IVF_N_CENT, _IVF_NPROBE = 16, 2

_ANN_IVF_SQL = f"""
WITH qall AS (
  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB})
),
qcent AS (
  SELECT vec_id AS cell, i, q FROM qall WHERE vec_id < {_IVF_N_CENT}
),
norms AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qall GROUP BY vec_id),
vc_dots AS (
  SELECT v.vec_id, c.cell, CAST(sum(v.q * c.q) AS BIGINT) AS dot
  FROM qall v JOIN qcent c ON c.i = v.i
  GROUP BY v.vec_id, c.cell
),
vc_cos AS (
  SELECT d.vec_id, d.cell,
         round(CASE WHEN nv.n2 > 0 AND nc.n2 > 0
                    THEN CAST(d.dot AS DOUBLE)
                         / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
                    ELSE 0 END, 6) AS ccos
  FROM vc_dots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cell
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
    FROM vc_cos) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
    FROM vc_cos WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
  ) WHERE rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
),
dots AS (
  SELECT cd.query_id, cd.neighbor_id, CAST(sum(q1.q * q2.q) AS BIGINT) AS dot
  FROM cand cd
  JOIN qall q1 ON q1.vec_id = cd.query_id
  JOIN qall q2 ON q2.vec_id = cd.neighbor_id AND q2.i = q1.i
  GROUP BY cd.query_id, cd.neighbor_id
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CASE WHEN nq.n2 > 0 AND nc.n2 > 0
                    THEN CAST(d.dot AS DOUBLE)
                         / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
                    ELSE 0 END, 6) AS cos
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_ivf_topk",
    _ANN_IVF_SQL,
    "IVF-flat approximate top-5: corpus vectors assigned to max-cosine "
    "centroid cells (deterministic seed codebook), queries probe their 2 "
    "closest cells — the cell-partition scale path next to LSH buckets; "
    "quantized-int math keeps it bit-exact cross-engine.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(
        _emb(spark, sf_dir),
        _ANN_QUERY_IDS,
        k=5,
        n_centroids=_IVF_N_CENT,
        nprobe=_IVF_NPROBE,
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOP_LIST = ", ".join(f"'{w}'" for w in textfns.STOPWORDS)

_TEXT_QUALITY_SQL = f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks,
         list_filter(string_split(lower(text), ' '), w -> w <> '') AS ltoks
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN len(ltoks) > 0
              THEN CAST(len(list_filter(ltoks, w -> list_contains([{_STOP_LIST}], w))) AS DOUBLE)
                   / len(ltoks) ELSE 0 END AS stop_ratio,
         CASE WHEN length(text) > 0
              THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text) ELSE 0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks)
              ELSE 0 END AS mean_word_len
  FROM base
)
SELECT doc_id, n_tokens,
       round(stop_ratio, 6) AS stop_ratio,
       round(punct_ratio, 6) AS punct_ratio,
       round(mean_word_len, 6) AS mean_word_len,
       round((least(n_tokens / 100.0, 1.0)
              + (1.0 - least(punct_ratio * 5.0, 1.0))
              + least(stop_ratio * 4.0, 1.0)) / 3.0, 6) AS quality
FROM m
"""


@register(
    "text_quality",
    _TEXT_QUALITY_SQL,
    "Per-document quality metrics: token count, stopword/punct ratios, "
    "mean word length, composite score.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize-once discipline (textfns.stopword_ratio_from's note):
    # the raw convenience variants re-ran tokens(text) ~4x and
    # tokens(lower(text)) ~2x per row inside one projection (HOFs sit
    # outside codegen subexpression elimination); the unrounded metric
    # columns are also each referenced twice (output + quality term),
    # so they bind in a middle projection.  Measured 0.59x at sf0.1,
    # bit-identical output.
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    base = docs.select(
        "doc_id", t.alias("text"),
        textfns.tokens(t).alias("toks"),
        textfns.tokens(F.lower(t)).alias("ltoks"),
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        textfns.stopword_ratio_from(F.col("ltoks")).alias("stop"),
        textfns.punct_ratio(F.col("text")).alias("punct"),
        textfns.mean_word_length_from(F.col("toks")).alias("mwl"),
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.round("stop", 6).alias("stop_ratio"),
        F.round("punct", 6).alias("punct_ratio"),
        F.round("mwl", 6).alias("mean_word_len"),
        F.round(
            (
                F.least(F.col("n_tokens").cast("double") / 100.0, F.lit(1.0))
                + (1.0 - F.least(F.col("punct") * 5.0, F.lit(1.0)))
                + F.least(F.col("stop") * 4.0, F.lit(1.0))
            ) / 3.0,
            6,
        ).alias("quality"),
    )


def _langid_case_expr(ltoks: str = "ltoks") -> str:
    """The language-ID argmax (``textfns.lang_id_from_scores``) as one
    DuckDB CASE expression over a token-list column — shared by the
    text_langid and curation_funnel oracles."""
    score = {
        lang: f"len(list_filter({ltoks}, w -> list_contains([{', '.join(map(repr, markers))}], w)))"
        for lang, markers in textfns.LANG_MARKERS.items()
    }
    langs = list(score)
    cases = []
    for lang in langs:
        conds = [f"{score[lang]} > 0"] + [
            f"{score[lang]} > {score[o]}" for o in langs if o != lang
        ]
        cases.append((lang, " AND ".join(conds)))
    # mirror the Spark fold: later langs' WHEN wraps earlier result, so
    # evaluate in REVERSE registration order
    expr = "'und'"
    for lang, cond in cases:
        expr = f"CASE WHEN {cond} THEN '{lang}' ELSE {expr} END"
    return expr


def _langid_sql() -> str:
    expr = _langid_case_expr()
    return f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ltoks
  FROM documents
)
SELECT predicted_lang, CAST(count(*) AS BIGINT) AS n FROM (
  SELECT doc_id, {expr} AS predicted_lang FROM base
) GROUP BY predicted_lang
"""


@register(
    "text_langid",
    _langid_sql(),
    "Marker-word language-ID heuristic, aggregated by predicted language.",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bind the token array, then the per-language scores, then argmax
    # over the bound columns: an unbound argmax over text embeds each
    # HOF score at ~2(L-1) comparison sites and re-tokenizes at every
    # one.  Measured 0.43x at sf0.1, bit-identical.
    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        textfns.tokens(F.lower(F.col("text"))).alias("ltoks")
    ).select(*[
        textfns._marker_hits(F.col("ltoks"), markers).alias(f"s_{lang}")
        for lang, markers in textfns.LANG_MARKERS.items()
    ])
    lang = textfns.lang_id_from_scores(
        {lang: F.col(f"s_{lang}") for lang in textfns.LANG_MARKERS}
    )
    return (
        scored.select(lang.alias("predicted_lang"))
        .groupBy("predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "text_fingerprint",
    """
    SELECT CASE WHEN text IS NULL THEN NULL ELSE
             md5(coalesce(array_to_string(list_sort(list_distinct(
               list_filter(string_split(lower(text), ' '), w -> w <> ''))), ' '),
               ''))
             END AS fingerprint,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keeper_id
    FROM documents GROUP BY fingerprint
    """,
    "Bag-of-words fingerprint clustering (canonicalize → md5 → group).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", textfns.fingerprint(F.col("text")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_id"),
        )
    )


@register(
    "text_rolling_hash",
    """
    SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL ELSE
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(list_filter(string_split(text, ''), c -> c <> ''),
                              c -> CAST(unicode(c) AS BIGINT))),
             (acc, x) -> (acc * 31 + x) % 1000000007) END AS rhash
    FROM documents
    """,
    "Polynomial rolling hash (Rabin-Karp) fingerprint per document.",
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", textfns.rolling_hash(F.col("text")).alias("rhash")
    )


@register(
    "text_token_budget",
    """
    SELECT source,
           CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> ''))) AS BIGINT)
             AS whitespace_tokens,
           CAST(sum(len(list_filter(
             string_split(regexp_replace(text, '(\\w{4})', '\\1 ', 'g'), ' '),
             w -> w <> ''))) AS BIGINT) AS bpe_ish_tokens
    FROM documents GROUP BY source
    """,
    "Corpus token budgeting per source: whitespace + sub-word-ish counts.",
)
def text_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(textfns.token_count(F.col("text"))).alias("whitespace_tokens"),
        F.sum(textfns.bpe_ish_token_count(F.col("text"))).alias("bpe_ish_tokens"),
    )


_EMB_NEARDUP_SQL = f"""
WITH buckets AS ({_LSH_BUCKET_SQL}),
cv AS (
  SELECT e.vec_id, b.bucket, i,
         CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB}) e
  JOIN buckets b ON b.vec_id = e.vec_id
),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cv GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(sum(a.c * b.c) AS BIGINT) AS dot
  FROM cv a JOIN cv b
    ON a.i = b.i AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, cos FROM (
  SELECT d.id_a, d.id_b,
         round(CAST(d.dot AS DOUBLE)
               / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cos
  FROM dots d
  JOIN norms na ON na.vec_id = d.id_a
  JOIN norms nb ON nb.vec_id = d.id_b
) WHERE cos >= 0.4
"""


@register(
    "embedding_near_dups",
    _EMB_NEARDUP_SQL,
    "Embedding-cosine near-duplicate pairs (cos ≥ 0.4) via sign-LSH "
    "blocking — the vector-dedup pass of a training pipeline.",
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_duplicates(
        _emb(spark, sf_dir), threshold=0.4, bits=8
    )


_TFIDF_SQL = """
WITH toks AS (
  SELECT doc_id, source, unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS word
  FROM documents
),
tf AS (
  SELECT doc_id, source, word, CAST(count(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, source, word
),
df AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY word),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT tf.source, tf.word,
         round(sum(tf.tf * (ln((nd.n_docs + 1.0) / (df.df + 1.0)) + 1.0)), 6) AS tfidf
  FROM tf JOIN df ON df.word = tf.word CROSS JOIN nd
  GROUP BY tf.source, tf.word
)
SELECT source, word, tfidf, rank FROM (
  SELECT source, word, tfidf,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY tfidf DESC, word) AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "text_tfidf_top_terms",
    _TFIDF_SQL,
    "TF-IDF (smoothed idf, ln) aggregated per source; top-5 terms each "
    "with deterministic tiebreak — classic text weighting, all native "
    "expressions, no ml.feature dependency.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
        ).alias("word"),
    )
    tf = toks.groupBy("doc_id", "source", "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    # global N as a 1-row aggregate cross-joined (same pattern as
    # counting.global_n) — no driver-side count(), no extra job
    nd = docs.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    idf = F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = (
        tf.join(F.broadcast(df_t), "word")
        .crossJoin(F.broadcast(nd))
        .groupBy("source", "word")
        .agg(F.round(F.sum(F.col("tf") * idf), 6).alias("tfidf"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(F.desc("tfidf"), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
    )


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

@register(
    "media_metadata",
    """
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST(64 + CAST(('0x' || substr(md5(text), 1, 4)) AS INTEGER) % 1960 AS INTEGER) AS width,
           CAST(64 + CAST(('0x' || substr(md5(text), 5, 4)) AS INTEGER) % 1960 AS INTEGER) AS height,
           CAST(1 + CAST(('0x' || substr(md5(text), 9, 2)) AS INTEGER) % 4 AS INTEGER) AS channels,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
    "Multimodal decode plumbing: mapInPandas fake-decoder metadata, "
    "verified byte-for-byte against the md5 derivation in SQL.",
)
def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.documents_as_media(load(spark, sf_dir, "documents"))
    return multimodal.decode_metadata(media, decoder="fake")


@register(
    "media_frames",
    """
    SELECT media_id, frame_index,
           md5(substring(text, frame_index * 64 + 1, 64)) AS frame_md5,
           CAST(length(substring(text, frame_index * 64 + 1, 64)) AS INTEGER)
             AS frame_len
    FROM (
      SELECT doc_id AS media_id, text,
             CAST(unnest(generate_series(
               0, least(CAST(ceil(length(text) / 64.0) AS BIGINT), 8) - 1)) AS INTEGER)
               AS frame_index
      FROM documents WHERE length(text) > 0
    )
    """,
    "Video frame sampling: fixed-size byte chunks, ≤8 frames per media "
    "row.  The registered projection digests each binary frame to "
    "(md5, length) scalars — raw blobs are pandas-unsortable in the "
    "driver's canonicalizer — and the payloads are ASCII, so DuckDB "
    "reproduces the digest with character substring arithmetic (same "
    "equivalence media_frames_text relies on).",
)
def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.documents_as_media(
        load(spark, sf_dir, "documents"), kind="video"
    )
    frames = multimodal.sample_frames(media, every_n_bytes=64, max_frames=8)
    return frames.select(
        "media_id",
        "frame_index",
        F.md5("frame_payload").alias("frame_md5"),
        F.length("frame_payload").cast("int").alias("frame_len"),
    )


@register(
    "media_frames_text",
    """
    SELECT media_id, frame_index, substring(text, frame_index * 64 + 1, 64) AS frame_text
    FROM (
      SELECT doc_id AS media_id, text,
             CAST(unnest(generate_series(
               0, least(CAST(ceil(length(text) / 64.0) AS BIGINT), 8) - 1)) AS INTEGER)
               AS frame_index
      FROM documents WHERE length(text) > 0
    )
    """,
    "Frame sampling of TEXT media by CHARACTER windows (unicode-safe "
    "twin of media_frames' byte chunks — byte-slicing UTF-8 then "
    "decoding raised MALFORMED_CHARACTER_CODING on torn multibyte "
    "chars); the oracle's substring arithmetic is exact for any text.",
)
def media_frames_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.sample_text_frames(
        load(spark, sf_dir, "documents"), every_n_chars=64, max_frames=8
    )


@register(
    "media_features",
    """
    SELECT doc_id AS media_id,
           CAST(g.i AS INTEGER) AS component,
           CAST(('0x' || substr(md5(text), g.i * 2 + 1, 2)) AS INTEGER)
             AS byte_value
    FROM documents
    CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) g
    WHERE text IS NOT NULL
    """,
    "Feature extraction plumbing: payload → fixed-dim float vector via "
    "Arrow-batched mapInPandas.  For the oracle the vector is exploded "
    "and de-quantized back to the md5 digest byte ((f+0.5)*255 rounds to "
    "an exact integer despite float32 storage), giving a full per-"
    "component value check instead of rows-only.",
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.documents_as_media(load(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(media, dim=16)
    return feats.select(
        "media_id", F.posexplode("feature").alias("component", "f")
    ).select(
        "media_id",
        F.col("component").cast("int").alias("component"),
        F.round((F.col("f") + 0.5) * 255).cast("int").alias("byte_value"),
    )


# ---------------------------------------------------------------------------
# curation funnel: the full training-data pipeline as one plan
# ---------------------------------------------------------------------------

_CURATION_THRESH = dict(min_matches=4, min_quality=0.35, lang="en",
                        budget_fraction=0.5)


def _curation_sql() -> str:
    """Oracle for the five-stage funnel.  Mirrors operators/curation.py
    stage by stage: the exact-dedup keeper window, the banded-MinHash
    drop list (>=4 of 8 hashes agree == est_jaccard >= 0.5), the
    quality+language gate, and the two-level bucket-cumsum budget cut."""
    langid = _langid_case_expr()
    match_sum = " + ".join(
        f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(8)
    )
    sig_cols = ",\n         ".join(
        f"min((_h1 + {k} * _h2) & {_H60_MASK}) AS h{k}" for k in range(8)
    )
    return f"""
WITH scored AS (
  SELECT doc_id, text,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         round((least(len(toks) / 100.0, 1.0)
                + (1.0 - least((CASE WHEN length(text) > 0
                     THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                          / length(text) ELSE 0 END) * 5.0, 1.0))
                + least((CASE WHEN len(ltoks) > 0
                     THEN CAST(len(list_filter(ltoks, w -> list_contains([{_STOP_LIST}], w))) AS DOUBLE)
                          / len(ltoks) ELSE 0 END) * 4.0, 1.0)) / 3.0, 6) AS quality,
         {langid} AS predicted_lang,
         (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS keep_exact
  FROM (SELECT doc_id, text,
               list_filter(string_split(text, ' '), w -> w <> '') AS toks,
               list_filter(string_split(lower(text), ' '), w -> w <> '') AS ltoks
        FROM documents)
),
s1 AS (SELECT doc_id, text FROM scored WHERE keep_exact),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM s1)
),
sig AS (
  SELECT doc_id, {sig_cols}
  FROM (SELECT doc_id,
               {_H60.format(expr="'0|' || shingle")} AS _h1,
               {_H60.format(expr="'1|' || shingle")} AS _h2
        FROM sh)
  GROUP BY doc_id
),
banded AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)
           WHEN 1 THEN CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)
           WHEN 2 THEN CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)
           ELSE        CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR)
         END AS key
  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
drops AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
  WHERE ({match_sum}) >= {_CURATION_THRESH['min_matches']}
),
flags AS (
  SELECT s.doc_id, s.n_tokens, s.quality, s.predicted_lang, s.keep_exact,
         (s.keep_exact AND d.doc_id IS NULL) AS keep_near,
         (s.keep_exact AND d.doc_id IS NULL
          AND s.predicted_lang = '{_CURATION_THRESH['lang']}'
          AND s.quality >= {_CURATION_THRESH['min_quality']}) AS keep_quality
  FROM scored s LEFT JOIN drops d USING (doc_id)
),
budget AS (
  SELECT CAST(floor(sum(n_tokens) * {_CURATION_THRESH['budget_fraction']}) AS BIGINT) AS b
  FROM flags WHERE keep_quality
),
gated AS (SELECT doc_id, n_tokens, quality FROM flags WHERE keep_quality),
bucket AS (SELECT quality, CAST(sum(n_tokens) AS BIGINT) AS btok
           FROM gated GROUP BY quality),
bcum AS (
  SELECT quality,
         CAST(coalesce(sum(btok) OVER (ORDER BY quality DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS before_bucket
  FROM bucket
),
sel AS (
  SELECT t.doc_id, t.n_tokens
  FROM (SELECT g.doc_id, g.n_tokens, b.before_bucket,
               sum(g.n_tokens) OVER (PARTITION BY g.quality ORDER BY g.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS in_bucket_cum
        FROM gated g JOIN bcum b USING (quality)) t, budget
  WHERE t.before_bucket + t.in_bucket_cum <= budget.b
)
SELECT '1_ingest' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM flags
UNION ALL
SELECT '2_exact_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM flags WHERE keep_exact
UNION ALL
SELECT '3_near_dedup', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM flags WHERE keep_near
UNION ALL
SELECT '4_quality_lang', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM flags WHERE keep_quality
UNION ALL
SELECT '5_token_budget', CAST(count(*) AS BIGINT),
       CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM sel
"""


@register(
    "curation_funnel",
    _curation_sql(),
    "The five-stage training-data curation pipeline as ONE lazy plan: "
    "ingest -> exact dedup (md5 keeper window) -> MinHash/LSH near-dup "
    "removal (est_jaccard >= 0.5) -> quality+language gate -> highest-"
    "quality-first token-budget cut (50% of surviving tokens).  Output "
    "is the per-stage funnel report every curation run leads with.",
)
def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import curation

    return curation.funnel_summary(
        load(spark, sf_dir, "documents"),
        near_dup_min_est_jaccard=0.5,
        min_quality=_CURATION_THRESH["min_quality"],
        langs=(_CURATION_THRESH["lang"],),
        budget_fraction=_CURATION_THRESH["budget_fraction"],
    )


# ---------------------------------------------------------------------------
# duplicate clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

_COMPONENTS_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({_MINHASH_LSH_SQL}) WHERE est_jaccard >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.u, r.r FROM reach r JOIN edges e ON e.v = r.node
)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY node
"""


def _pagerank_sql(iters: int = 5, damping_pct: int = 85,
                  scale: int = 1_000_000) -> str:
    """Unroll the integer PageRank iteration (components.pagerank):
    same fixed prefix, one CTE per hop — all `//` floor division of
    non-negative int64, so both engines agree bit for bit."""
    base = ((100 - damping_pct) * scale) // 100
    parts = [f"""WITH pairs AS (
  SELECT id_a, id_b FROM ({_MINHASH_LSH_SQL}) WHERE est_jaccard >= 0.5
),
und AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
deg AS (
  SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM und GROUP BY u
),
pr0 AS (SELECT node, CAST({scale} AS BIGINT) AS pr FROM deg)"""]
    for i in range(1, iters + 1):
        parts.append(f"""pr{i} AS MATERIALIZED (
  SELECT n.node,
         CAST({base} + ({damping_pct} * COALESCE(s.c, 0)) // 100 AS BIGINT)
           AS pr
  FROM (SELECT node FROM deg) n
  LEFT JOIN (
    SELECT e.v AS node, CAST(sum(p.pr // dg.d) AS BIGINT) AS c
    FROM pr{i - 1} p
    JOIN deg dg ON dg.node = p.node
    JOIN und e ON e.u = p.node
    GROUP BY e.v
  ) s ON s.node = n.node
)""")
    return ",\n".join(parts) + f"""
SELECT d.node AS doc_id, d.d AS degree, p.pr AS pr_micro
FROM pr{iters} p JOIN deg d ON d.node = p.node
"""


@register(
    "dedup_pagerank",
    _pagerank_sql(),
    "Iterative link analysis over the near-dup graph: 5 rounds of "
    "integer-exact PageRank (pr div deg messages, damping 85/100, all "
    "int64 div — no float anywhere) scoring each document's centrality "
    "inside its duplicate cluster, the 'which member is canonical' "
    "signal.  Oracle: the iteration unrolled into one MATERIALIZED CTE "
    "per hop over the same MinHash/LSH edge relation.",
)
def dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import components

    pairs = dedup.minhash_near_duplicates(
        load(spark, sf_dir, "documents")
    ).filter(F.col("est_jaccard") >= 0.5)
    pr = components.pagerank(pairs, iters=5)
    return pr.select(
        F.col("node").alias("doc_id"),
        F.col("d").cast("long").alias("degree"),
        F.col("pr").alias("pr_micro"),
    )


@register(
    "dedup_components",
    _COMPONENTS_SQL,
    "Transitive duplicate clusters: MinHash near-dup pairs (est_jaccard "
    ">= 0.5) -> undirected edges -> min-label-propagation connected "
    "components.  The oracle computes the same fixpoint as a recursive "
    "CTE (component = min reachable node id).",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import components

    pairs = dedup.minhash_near_duplicates(
        load(spark, sf_dir, "documents")
    ).filter(F.col("est_jaccard") >= 0.5)
    comp = components.connected_components(pairs)
    return comp.select(F.col("node").alias("doc_id"), "component")


@register(
    "dedup_components_ls",
    _COMPONENTS_SQL,
    "Same duplicate clusters via the large-star/small-star algorithm "
    "(Kiveris et al., SoCC'14) — O(log n) rounds regardless of cluster "
    "diameter, for graphs where min-label propagation's diameter bound "
    "bites.  Same oracle as dedup_components: both algorithms converge "
    "to component = min reachable node id.",
)
def dedup_components_ls(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import components

    pairs = dedup.minhash_near_duplicates(
        load(spark, sf_dir, "documents")
    ).filter(F.col("est_jaccard") >= 0.5)
    comp = components.connected_components_star(pairs)
    return comp.select(F.col("node").alias("doc_id"), "component")


@register(
    "join_salted_skew",
    """
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_quantity), 4) AS total_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    "Skew-resilient salted join (operators/scale.salted_join) value-"
    "checked against the PLAIN join oracle: salting must be a pure "
    "physical rewrite — large side salted per row, small side "
    "replicated, join on (key, salt) — with bit-identical aggregate "
    "results.  The driver row proves the rewrite's result invariance; "
    "the no-hot-partition property is pinned in tests/test_scale.py.",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import scale

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey"), "l_quantity"
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        scale.salted_join(li, part, "p_partkey", salt=8)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("total_qty"),
        )
    )


@register(
    "skew_profile",
    """
    WITH c AS (SELECT l_suppkey AS key, count(*) AS n
               FROM lineitem GROUP BY 1),
    s AS (SELECT avg(n) AS avg_n FROM c),
    t AS (SELECT key, n, row_number() OVER (ORDER BY n DESC, key) AS rank
          FROM c)
    SELECT CAST(t.key AS BIGINT) AS key,
           CAST(t.n AS BIGINT) AS n,
           CAST(t.rank AS BIGINT) AS rank,
           round(t.n / s.avg_n, 6) AS x_avg
    FROM t, s WHERE t.rank <= 10
    """,
    "Hot-key diagnosis (operators/scale.key_skew_profile): top-10 keys "
    "by row count with rank and multiple-of-average load — the "
    "measurement that decides between AQE skew-join, salting, and "
    "doing nothing.  TakeOrdered before the ranking window, so the "
    "unpartitioned window sees 10 rows, not the key space.",
)
def skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import scale

    return scale.key_skew_profile(
        load(spark, sf_dir, "lineitem"), "l_suppkey", top=10
    )


_VOCAB_SIZE = 20

_VOCAB_OOV_SQL = f"""
WITH d AS (
  SELECT {{bucket}} AS bucket,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks
  FROM documents
),
s AS (
  SELECT CASE WHEN bucket < 8000 THEN 'train'
              WHEN bucket < 9000 THEN 'val'
              ELSE 'test' END AS split,
         unnest(toks) AS word
  FROM d
),
tc AS (SELECT word, count(*) AS c FROM s WHERE split = 'train' GROUP BY word),
vocab AS (SELECT word FROM tc ORDER BY c DESC, word LIMIT {_VOCAB_SIZE})
SELECT split,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS oov_rate
FROM s LEFT JOIN vocab v ON v.word = s.word
GROUP BY split
"""


@register(
    "vocab_oov_rate",
    None,  # oracle filled in below (needs the split-bucket expression)
    "Vocabulary coverage diagnostic: top-N vocabulary built from the "
    "TRAIN split only (count desc, word asc tiebreak — deterministic "
    "boundary), then per-split token counts and out-of-vocabulary "
    "rates.  Vocab selection is orderBy+limit (distributed TakeOrdered, "
    "never a materialized global sort) and the vocab is broadcast into "
    "the coverage join; split assignment is the same hash-bucket "
    "derivation as dataset_split, so eval never leaks into the vocab.",
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    with_split = sampling.assign_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    words = with_split.select(
        "split", F.explode(textfns.tokens(F.col("text"))).alias("word")
    )
    vocab = (
        words.filter(F.col("split") == "train")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("word"))
        .limit(_VOCAB_SIZE)
        .select("word", F.lit(1).alias("in_vocab"))
    )
    n_oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return (
        words.join(F.broadcast(vocab), "word", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            n_oov.cast("long").alias("n_oov"),
            F.round(n_oov / F.count(F.lit(1)), 6).alias("oov_rate"),
        )
    )


_CLUSTER_KEEPERS_SQL = f"""
WITH comp AS ({_COMPONENTS_SQL}),
sel AS (
  SELECT c.component, c.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.component
                            ORDER BY d.n_chars DESC, c.doc_id) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT component,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT) AS keeper_id,
       CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keeper_chars
FROM sel GROUP BY component
"""


@register(
    "dedup_cluster_keepers",
    _CLUSTER_KEEPERS_SQL,
    "Canonical-document selection per duplicate cluster: components over "
    "the MinHash pair graph, then keep the RICHEST member (max n_chars, "
    "tie-break min id) instead of the min-id default — the policy real "
    "curation runs want when duplicates differ in truncation.  Window "
    "argmax is keyed by component, so no global ordering.",
)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from dirt_hadoop_similarity_spark.operators import components

    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs).filter(
        F.col("est_jaccard") >= 0.5
    )
    comp = components.connected_components(pairs)
    joined = comp.join(
        docs.select("doc_id", "n_chars"),
        comp["node"] == F.col("doc_id"),
    )
    w = W.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias(
                "keeper_chars"
            ),
        )
    )


_REPETITION_SQL = """
WITH base AS (
  SELECT doc_id, toks, len(toks) AS n_words
  FROM (SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents)
  WHERE len(toks) >= 2
),
wc AS (
  SELECT doc_id, n_words, word, count(*) AS c
  FROM (SELECT doc_id, n_words, unnest(toks) AS word FROM base)
  GROUP BY doc_id, n_words, word
),
wstats AS (
  SELECT doc_id, n_words, max(c) AS top_w,
         -sum((c * 1.0 / n_words) * ln(c * 1.0 / n_words)) AS entropy
  FROM wc GROUP BY doc_id, n_words
),
bstats AS (
  SELECT doc_id, max(c) AS top_bg FROM (
    SELECT doc_id, bg, count(*) AS c
    FROM (SELECT doc_id,
                 unnest(list_transform(generate_series(1, len(toks) - 1),
                                       i -> toks[i] || ' ' || toks[i + 1])) AS bg
          FROM base)
    GROUP BY doc_id, bg
  ) GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(w.n_words AS BIGINT) AS n_words,
       round(w.top_w * 1.0 / w.n_words, 6) AS top_word_frac,
       round(b.top_bg * 1.0 / (w.n_words - 1), 6) AS top_bigram_frac,
       round(w.entropy, 6) AS word_entropy,
       ((b.top_bg * 1.0 / (w.n_words - 1) >= 0.2 AND b.top_bg >= 2)
        OR (w.top_w * 1.0 / w.n_words >= 0.3 AND w.top_w >= 2)) AS is_repetitive
FROM wstats w JOIN bstats b ON b.doc_id = w.doc_id
"""


@register(
    "text_repetition",
    _REPETITION_SQL,
    "Gopher-style repetition quality signals per document (Rae et al. "
    "2021 §A1.1, word-level): top-word fraction, top-bigram fraction, "
    "word-distribution entropy, combined is_repetitive flag.  Two "
    "doc-keyed explode→partial-agg passes; shuffle volume is per-doc "
    "distinct token mass.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textfns.repetition_metrics(load(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# deterministic dataset splitting
# ---------------------------------------------------------------------------

_SPLIT_BUCKET = ("CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
                 "AS UBIGINT)::BIGINT % 10000")

# vocab_oov_rate registers above (text section) but its oracle needs the
# split-bucket derivation defined here
QUERIES["vocab_oov_rate"].oracle = _VOCAB_OOV_SQL.format(bucket=_SPLIT_BUCKET)

_PACK_BUCKET = ("CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
                "AS UBIGINT)::BIGINT % 10000")

_PACK_SQL = f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS n_tokens,
         {_PACK_BUCKET} AS bucket
  FROM documents
),
o AS (
  SELECT doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (ORDER BY bucket, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS token_offset
  FROM d
)
SELECT CAST(token_offset // 512 AS BIGINT) AS bin_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(sum(n_tokens) / 512.0, 6) AS fill
FROM o GROUP BY bin_id
"""


@register(
    "sequence_packing",
    _PACK_SQL,
    "Concat-and-chunk sequence packing (curation.pack_sequences): docs "
    "laid out in hash-bucketed deterministic order, assigned to fixed "
    "512-token training bins by global token offset; per-bin doc/token "
    "counts and fill rate.  The offset is the two-level bucket cumsum — "
    "the oracle's flat ORDER BY cumsum over the whole corpus is exactly "
    "what the Spark plan avoids, and both must agree bit-for-bit.",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import curation

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", textfns.token_count(F.col("text")).alias("n_tokens")
    )
    packed = curation.pack_sequences(docs, seq_len=512)
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.round(F.sum("n_tokens") / 512.0, 6).alias("fill"),
    )

_SPLIT_SQL = f"""
WITH b AS (
  SELECT doc_id, {_SPLIT_BUCKET} AS bucket,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
           AS n_tokens
  FROM documents
)
SELECT CASE WHEN bucket < 8000 THEN 'train'
            WHEN bucket < 9000 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM b GROUP BY 1
"""


@register(
    "dataset_split",
    _SPLIT_SQL,
    "Deterministic hash-bucket train/val/test split (80/10/10 on "
    "md5(doc_id) buckets) with per-split doc and token counts — "
    "reproducible across runs, partitionings, and engines, unlike "
    "rand()-based sampling.",
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    assigned = sampling.assign_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(textfns.token_count(F.col("text"))).alias("n_tokens"),
    )


_RESERVOIR_K = 20

_RESERVOIR_SQL = f"""
WITH h AS (
  SELECT source, doc_id,
         {_H60.format(expr="'reservoir|' || CAST(doc_id AS VARCHAR)")} AS hv
  FROM documents
)
SELECT source, doc_id, sample_rank FROM (
  SELECT source, doc_id,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY hv, doc_id) AS BIGINT) AS sample_rank
  FROM h
) WHERE sample_rank <= {_RESERVOIR_K}
"""


@register(
    "reservoir_per_group",
    _RESERVOIR_SQL,
    "Deterministic per-source reservoir: exactly min(k, |group|) "
    "uniform rows per group drawn by hash order — two-phase "
    "decomposable top-k (per-(group, partition) prune then candidate "
    "rank), so no single task ever sorts a whole hot group.",
)
def reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    return sampling.reservoir_per_group(
        docs, "source", k=_RESERVOIR_K, key="doc_id"
    ).select("source", "doc_id", "sample_rank")


def _bpe_oracle_sql(n_merges: int = 8) -> str:
    """Unroll the BPE merge loop into chained MATERIALIZED CTEs (same
    technique as the IVFADC oracle): per stage, pair-count + argmax
    (ties on pair ascending, matching the trainer), then the vocab
    rewrite.  RE2 has no lookarounds, so the trainer's zero-width
    boundary regex is rendered as pure literal replaces via separator
    doubling: double every SEP, literal-replace ``SEP l SEP SEP r SEP``
    → ``SEP lr SEP`` (consuming ONE sep from each shared boundary, so
    back-to-back occurrences all merge, e.g. a|b|a|b → ab|ab), then
    collapse double seps.  MATERIALIZED is required: the scalar
    subqueries reference each stage several times and inlining would
    re-expand the whole prefix exponentially (~6^stages parquet scans).
    """
    S = "chr(31)"
    parts = [f"""WITH v0 AS MATERIALIZED (
  SELECT {S} || regexp_replace(word, '(.)', '\\1' || {S}, 'g') AS sym, c
  FROM (
    SELECT word, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                    w -> w <> '')) AS word
          FROM documents)
    GROUP BY word
  )
)"""]
    for i in range(1, n_merges + 1):
        prev = f"v{i - 1}"
        parts.append(f"""pc{i} AS MATERIALIZED (
  SELECT pr AS p, CAST(sum(c) AS BIGINT) AS n
  FROM (
    SELECT c, unnest(list_transform(generate_series(1, len(l) - 1),
                                    j -> l[j] || {S} || l[j + 1])) AS pr
    FROM (SELECT list_filter(string_split(sym, {S}), s -> s <> '') AS l, c
          FROM {prev})
  )
  GROUP BY pr
  HAVING sum(c) >= 2
),
m{i} AS MATERIALIZED (
  SELECT string_split(p, {S})[1] AS ml, string_split(p, {S})[2] AS mr, n
  FROM pc{i} ORDER BY n DESC, p ASC LIMIT 1
),
v{i} AS MATERIALIZED (
  SELECT CASE WHEN NOT EXISTS (SELECT 1 FROM m{i}) THEN sym ELSE
    replace(
      replace(
        replace(sym, {S}, {S} || {S}),
        {S} || (SELECT ml FROM m{i}) || {S} || {S} || (SELECT mr FROM m{i}) || {S},
        {S} || (SELECT ml FROM m{i}) || (SELECT mr FROM m{i}) || {S}
      ),
      {S} || {S}, {S}
    ) END AS sym, c
  FROM {prev}
)""")
    finals = "\n  UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rank, ml AS \"left\", mr AS \"right\", "
        f"n AS pair_freq FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return ",\n".join(parts) + f"\nSELECT * FROM (\n  {finals}\n) ORDER BY rank"


def _bpe_encode_oracle_sql(n_merges: int = 8) -> str:
    """Oracle for the corpus ENCODER: reuse the training unroll's merge
    CTEs (m1..mN), then apply the same separator-doubled literal
    replaces to a per-distinct-WORD relation (training rewrites the
    frequency vocab, so word identity is lost there), and finally
    explode each document's words in order, join the encoding, and
    aggregate per-doc token counts + an order-sensitive stream digest.
    """
    S = "chr(31)"
    train = _bpe_oracle_sql(n_merges)
    ctes = train[: train.rindex("\nSELECT * FROM")]
    parts = [ctes]
    parts.append(f"""e0 AS MATERIALIZED (
  SELECT word, {S} || regexp_replace(word, '(.)', '\\1' || {S}, 'g') AS sym
  FROM (SELECT DISTINCT unnest(list_filter(string_split(lower(text), ' '),
                                           w -> w <> '')) AS word
        FROM documents)
)""")
    for i in range(1, n_merges + 1):
        parts.append(f"""e{i} AS MATERIALIZED (
  SELECT word, CASE WHEN NOT EXISTS (SELECT 1 FROM m{i}) THEN sym ELSE
    replace(
      replace(
        replace(sym, {S}, {S} || {S}),
        {S} || (SELECT ml FROM m{i}) || {S} || {S} || (SELECT mr FROM m{i}) || {S},
        {S} || (SELECT ml FROM m{i}) || (SELECT mr FROM m{i}) || {S}
      ),
      {S} || {S}, {S}
    ) END AS sym
  FROM e{i - 1}
)""")
    parts.append(f"""enc AS MATERIALIZED (
  SELECT word,
         array_to_string(list_filter(string_split(sym, {S}), s -> s <> ''), ' ')
           AS toks,
         len(list_filter(string_split(sym, {S}), s -> s <> '')) AS n_toks
  FROM e{n_merges}
),
docw AS (
  SELECT doc_id, w AS word, i
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS w,
               generate_subscripts(list_filter(string_split(lower(text), ' '),
                                               w -> w <> ''), 1) AS i
        FROM documents)
)""")
    return ",\n".join(parts) + """
SELECT d.doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(e.n_toks) AS BIGINT) AS n_bpe_tokens,
       md5(string_agg(e.toks, ' ' ORDER BY d.i)) AS stream_md5
FROM docw d JOIN enc e ON e.word = d.word
GROUP BY d.doc_id"""


@register(
    "bpe_train_merges",
    _bpe_oracle_sql(8),
    "Distributed BPE tokenizer training (8 merges) on the word-"
    "frequency table: per-iteration pair-count groupBy + 1-row argmax "
    "collect (SURVEY-S6 scalar), merges applied via native "
    "boundary-anchored regexp_replace — corpus touched once, no UDF.  "
    "Oracle: the loop unrolled into 8 chained MATERIALIZED CTE stages "
    "(argmax + separator-doubled literal-replace rewrite).",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.functions import bpe

    merges = bpe.train(load(spark, sf_dir, "documents"), n_merges=8)
    return bpe.merge_table(spark, merges)


def _bpe_batched_oracle_sql(n_merges: int = 8, batch: int = 4) -> str:
    """Unroll the BATCHED trainer (functions/bpe.train_batched) exactly:
    per round, pair-count the current vocab, rank the top 4·batch
    candidates by (count desc, pair asc), replay the greedy
    non-interfering selection (pick j = lowest-ranked candidate after
    pick j-1 whose {l, r, l+r} is disjoint from every prior pick's
    triple — bpe.pick_non_interfering's exact walk) as chained
    LIMIT-1 CTEs, then apply each pick's separator-doubled literal
    replace.  The final global rank cutoff at ``n_merges`` reproduces
    the trainer's want-capped last round: greedy selection is
    prefix-stable (a pick never depends on later picks), so truncating
    the full-batch walk equals running it with the smaller want.
    Rounds are unrolled to the worst case (one pick per round =
    ``n_merges`` rounds); rounds past the trainer's stopping point
    contribute picks the rank cutoff drops."""
    S = "chr(31)"
    pool = 4 * batch
    parts = [f"""WITH b0_v{batch} AS MATERIALIZED (
  SELECT {S} || regexp_replace(word, '(.)', '\\1' || {S}, 'g') AS sym, c
  FROM (
    SELECT word, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(list_filter(string_split(lower(text), ' '),
                                    w -> w <> '')) AS word
          FROM documents)
    GROUP BY word
  )
)"""]
    for r in range(1, n_merges + 1):
        prev = f"b{r - 1}_v{batch}"
        parts.append(f"""b{r}_rk AS MATERIALIZED (
  SELECT string_split(p, {S})[1] AS ml, string_split(p, {S})[2] AS mr,
         string_split(p, {S})[1] || string_split(p, {S})[2] AS prod,
         n, CAST(row_number() OVER (ORDER BY n DESC, p ASC) AS BIGINT) AS rk
  FROM (
    SELECT pr AS p, CAST(sum(c) AS BIGINT) AS n
    FROM (
      SELECT c, unnest(list_transform(generate_series(1, len(l) - 1),
                                      j -> l[j] || {S} || l[j + 1])) AS pr
      FROM (SELECT list_filter(string_split(sym, {S}), s -> s <> '') AS l, c
            FROM {prev})
    )
    GROUP BY pr
    HAVING sum(c) >= 2
    ORDER BY n DESC, p ASC LIMIT {pool}
  )
)""")
        for j in range(1, batch + 1):
            if j == 1:
                parts.append(f"""b{r}_p1 AS MATERIALIZED (
  SELECT ml, mr, prod, n, rk FROM b{r}_rk ORDER BY rk LIMIT 1
)""")
            else:
                disjoint = "\n    AND ".join(
                    f"NOT EXISTS (SELECT 1 FROM b{r}_p{q} x WHERE "
                    f"c.ml IN (x.ml, x.mr, x.prod) OR "
                    f"c.mr IN (x.ml, x.mr, x.prod) OR "
                    f"c.prod IN (x.ml, x.mr, x.prod))"
                    for q in range(1, j)
                )
                parts.append(f"""b{r}_p{j} AS MATERIALIZED (
  SELECT c.ml, c.mr, c.prod, c.n, c.rk FROM b{r}_rk c
  WHERE c.rk > (SELECT rk FROM b{r}_p{j - 1})
    AND {disjoint}
  ORDER BY c.rk LIMIT 1
)""")
        for j in range(1, batch + 1):
            prev_v = f"b{r}_v{j - 1}" if j > 1 else prev
            parts.append(f"""b{r}_v{j} AS MATERIALIZED (
  SELECT CASE WHEN NOT EXISTS (SELECT 1 FROM b{r}_p{j}) THEN sym ELSE
    replace(
      replace(
        replace(sym, {S}, {S} || {S}),
        {S} || (SELECT ml FROM b{r}_p{j}) || {S} || {S} || (SELECT mr FROM b{r}_p{j}) || {S},
        {S} || (SELECT ml FROM b{r}_p{j}) || (SELECT mr FROM b{r}_p{j}) || {S}
      ),
      {S} || {S}, {S}
    ) END AS sym, c
  FROM {prev_v}
)""")
    unions = "\n  UNION ALL ".join(
        f"SELECT {r} AS rnd, {j} AS pk, ml, mr, n FROM b{r}_p{j}"
        for r in range(1, n_merges + 1)
        for j in range(1, batch + 1)
    )
    return (
        ",\n".join(parts)
        + f""",
picks AS (
  {unions}
)
SELECT rank, ml AS "left", mr AS "right", n AS pair_freq FROM (
  SELECT CAST(row_number() OVER (ORDER BY rnd, pk) AS BIGINT) AS rank,
         ml, mr, n
  FROM picks
) WHERE rank <= {n_merges}
ORDER BY rank"""
    )


@register(
    "bpe_train_batched",
    _bpe_batched_oracle_sql(8, 4),
    "BATCHED BPE training (8 merges, batch 4): up to 4 symbol-disjoint "
    "merges learned per Spark round instead of 1, cutting the job count "
    "O(n_merges) → O(n_merges/batch) — the 32k-merge scale path.  "
    "Non-interfering merges commute (shared symbol needed to destroy, "
    "product-as-symbol needed to create an occurrence), so each pick "
    "behaves exactly as the round's single merge.  Oracle: the greedy "
    "non-interfering walk unrolled as chained LIMIT-1 pick CTEs per "
    "round + the separator-doubled replace per applied pick.",
)
def bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.functions import bpe

    merges = bpe.train_batched(
        load(spark, sf_dir, "documents"), n_merges=8, batch=4
    )
    return bpe.merge_table(spark, merges)


# ---------------------------------------------------------------------------
# boilerplate n-gram detection
# ---------------------------------------------------------------------------

_BOILERPLATE_SQL = f"""
SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
FROM ({_SHINGLES_SQL})
GROUP BY shingle HAVING count(*) >= 5
"""


@register(
    "text_boilerplate",
    _BOILERPLATE_SQL,
    "Boilerplate 3-gram detection: shingles appearing in >= 5 distinct "
    "documents (word_shingles emits distinct shingles per doc, so the "
    "count IS document frequency) — the repeated-ngram signal C4-style "
    "cleaning removes.  Pure groupBy with map-side partial aggregation.",
)
def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = dedup.word_shingles(load(spark, sf_dir, "documents"), n=3)
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 5)
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs persisted signature index
# ---------------------------------------------------------------------------

_INCR_SPLIT_ID = 400  # documents below = "existing corpus", rest = "new batch"


def _incremental_sql() -> str:
    match_sum = " + ".join(
        f"(CASE WHEN sa.h{k} = sb.h{k} THEN 1 ELSE 0 END)" for k in range(8)
    )
    shingles = """
  SELECT doc_id, unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 2, 1)),
           i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
  FROM (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents)
"""
    return f"""
WITH sig AS ({_minhash_sql(8).replace(_SHINGLES_SQL, shingles)}),
banded AS (
  SELECT doc_id, b.band,
         CASE b.band
           WHEN 0 THEN CAST(h0 AS VARCHAR) || ':' || CAST(h1 AS VARCHAR)
           WHEN 1 THEN CAST(h2 AS VARCHAR) || ':' || CAST(h3 AS VARCHAR)
           WHEN 2 THEN CAST(h4 AS VARCHAR) || ':' || CAST(h5 AS VARCHAR)
           ELSE        CAST(h6 AS VARCHAR) || ':' || CAST(h7 AS VARCHAR)
         END AS key
  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b
),
cand AS (
  SELECT b.doc_id AS batch_id, a.doc_id AS corpus_id,
         CAST(count(*) AS BIGINT) AS n_bands_matched
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.key = b.key
   AND a.doc_id < {_INCR_SPLIT_ID} AND b.doc_id >= {_INCR_SPLIT_ID}
  GROUP BY 1, 2
)
SELECT c.batch_id, c.corpus_id, c.n_bands_matched,
       round(({match_sum}) / 8.0, 6) AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.corpus_id
JOIN sig sb ON sb.doc_id = c.batch_id
"""


@register(
    "dedup_incremental",
    _incremental_sql(),
    "Incremental dedup (the daily-ingest shape): a new batch "
    f"(doc_id >= {_INCR_SPLIT_ID}) probes the persisted MinHash "
    "signature index of the existing corpus via a broadcast band join — "
    "the corpus is never re-shingled and never shuffles.",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    corpus_sigs = dedup.signature_index(
        docs.filter(F.col("doc_id") < _INCR_SPLIT_ID)
    )
    batch = docs.filter(F.col("doc_id") >= _INCR_SPLIT_ID)
    return dedup.incremental_near_duplicates(corpus_sigs, batch)


# ---------------------------------------------------------------------------
# product quantization: compressed-code ANN (ADC)
# ---------------------------------------------------------------------------

_PQ_M, _PQ_DSUB, _PQ_KSUB = 8, 8, 16

_ANN_PQ_SQL = f"""
WITH qall AS (
  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB})
),
cbsub AS (
  SELECT vec_id AS code, (i - 1) // {_PQ_DSUB} AS sub, i, q AS c
  FROM qall WHERE vec_id < {_PQ_KSUB}
),
vsub AS (SELECT vec_id, (i - 1) // {_PQ_DSUB} AS sub, i, q AS v FROM qall),
vdist AS (
  SELECT v.vec_id, v.sub, c.code,
         CAST(sum((v.v - c.c) * (v.v - c.c)) AS BIGINT) AS d2
  FROM vsub v JOIN cbsub c ON c.sub = v.sub AND c.i = v.i
  GROUP BY v.vec_id, v.sub, c.code
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM vdist) WHERE rn = 1
),
lut AS (
  SELECT vec_id AS query_id, sub, code, d2 FROM vdist
  WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM codes c
  JOIN lut l ON l.sub = c.sub AND l.code = c.code AND l.query_id <> c.vec_id
  GROUP BY l.query_id, c.vec_id
)
SELECT query_id, neighbor_id, adc_d2, rank FROM (
  SELECT query_id, neighbor_id, adc_d2,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_d2, neighbor_id) AS BIGINT) AS rank
  FROM adc) WHERE rank <= 5
"""


@register(
    "ann_pq_topk",
    _ANN_PQ_SQL,
    "Product-quantization ADC top-5 (Jegou et al. 2011): vectors become "
    f"{_PQ_M} one-byte codes via per-subspace argmin (seed codebooks = "
    f"first {_PQ_KSUB} vectors, oracle-reproducible); search sums "
    "exact-integer subdistances from a broadcast per-query lookup table "
    "over the code index — the corpus' raw vectors are never touched at "
    "query time.",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pq_adc_topk(
        _emb(spark, sf_dir),
        _ANN_QUERY_IDS,
        k=5,
        m=_PQ_M,
        dsub=_PQ_DSUB,
        ksub=_PQ_KSUB,
    )


_STRAT_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25, "src4": 0.0}
_STRAT_DEFAULT = 0.1

_STRAT_BUCKET = ("CAST(('0x' || substr(md5('stratified|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
                 "AS UBIGINT)::BIGINT % 10000")


def _stratified_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{g}' THEN {int(round(r * 10000))}"
        for g, r in _STRAT_RATES.items()
    )
    return f"""
SELECT source, CAST(count(*) AS BIGINT) AS n_docs
FROM documents
WHERE {_STRAT_BUCKET} < (CASE {cases} ELSE {int(round(_STRAT_DEFAULT * 10000))} END)
GROUP BY source
"""


@register(
    "stratified_sample",
    _stratified_sql(),
    "Per-source stratified sampling (the training-mix rebalancing knob): "
    "deterministic md5-bucket thresholds per group — src0 kept fully, "
    "src4 dropped, unlisted sources at 10%; tightening a rate always "
    "yields a subset of the looser sample.",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    kept = sampling.stratified_sample(
        docs, _STRAT_RATES, "source", "doc_id", default_rate=_STRAT_DEFAULT
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


_SWEEP_SQL = f"""
WITH pairs AS ({_MINHASH_LSH_SQL}),
ag AS (
  SELECT id_b, CAST(round(est_jaccard * 8) AS BIGINT) AS m FROM pairs
),
pair_b AS (SELECT m, CAST(count(*) AS BIGINT) AS n_pairs FROM ag GROUP BY m),
doc_b AS (
  SELECT m, CAST(count(*) AS BIGINT) AS n_docs
  FROM (SELECT id_b, max(m) AS m FROM ag GROUP BY id_b) GROUP BY m
),
spine AS (SELECT CAST(unnest(generate_series(1, 8)) AS BIGINT) AS k),
ps AS (
  SELECT s.k, CAST(COALESCE(sum(p.n_pairs), 0) AS BIGINT) AS n_pairs
  FROM spine s LEFT JOIN pair_b p ON p.m >= s.k GROUP BY s.k
),
ds AS (
  SELECT s.k, CAST(COALESCE(sum(d.n_docs), 0) AS BIGINT) AS n_docs_dropped
  FROM spine s LEFT JOIN doc_b d ON d.m >= s.k GROUP BY s.k
)
SELECT ps.k AS threshold_hashes,
       round(ps.k / 8.0, 6) AS min_est_jaccard,
       ps.n_pairs, ds.n_docs_dropped
FROM ps JOIN ds ON ds.k = ps.k
"""


@register(
    "dedup_threshold_sweep",
    _SWEEP_SQL,
    "Near-dup threshold operating curve: pairs surviving and docs "
    "dropped at every 'k of 8 minhashes agree' cut — the decision tool "
    "for near_dup_min_est_jaccard.  The sweep is two <=8-row bucket "
    "aggregates plus an 8-row spine join over the bounded pair "
    "relation; no per-threshold re-scan of anything corpus-sized.",
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs)
    return dedup.threshold_sweep(pairs)


_MIX_PARTS = {"en": 5, "zh": 2, "es": 2, "de": 1}  # fr unlisted -> dropped
_MIX_REPEAT = 2
_MIX_S = sum(_MIX_PARTS.values())

_MIX_BUCKET = ("CAST(('0x' || substr(md5('mixture|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
               "AS UBIGINT)::BIGINT % 10000")


def _mixture_sql() -> str:
    case = " ".join(
        f"WHEN lang = '{g}' THEN CAST({p} AS BIGINT)"
        for g, p in _MIX_PARTS.items()
    )
    langs = ", ".join(f"'{g}'" for g in _MIX_PARTS)
    s = _MIX_S
    return f"""
WITH listed AS (
  SELECT doc_id, lang, CASE {case} END AS parts
  FROM documents WHERE lang IN ({langs})
),
counts AS (
  SELECT lang, parts, CAST(count(*) AS BIGINT) AS n
  FROM listed GROUP BY lang, parts
),
budget AS (SELECT min((n * {_MIX_REPEAT} * {s}) // parts) AS b FROM counts),
factors AS (
  SELECT lang,
         (parts * b) // ({s} * n) AS epochs,
         ((parts * b) - ((parts * b) // ({s} * n)) * {s} * n) * 10000 // ({s} * n)
           AS rem_bound
  FROM counts CROSS JOIN budget
),
gated AS (
  SELECT l.doc_id, l.lang,
         f.epochs + (CASE WHEN {_MIX_BUCKET} < f.rem_bound THEN 1 ELSE 0 END)
           AS copies
  FROM listed l JOIN factors f USING (lang)
)
SELECT doc_id, lang, CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
FROM gated WHERE copies >= 1
"""


@register(
    "mixture_resample",
    _mixture_sql(),
    "Target-mixture resampling with epoch upsampling (the pretraining "
    "mix builder): per-lang integer weights 5/2/2/1 with <=2 epochs per "
    "group; the scarcest group binds the total budget, derived entirely "
    "in-plan with bigint div arithmetic (count pass -> 1-row min -> "
    "k-row broadcast factors), fractional last epochs gated by the md5 "
    "sample bucket.",
)
def mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    return sampling.mixture_resample(
        docs, _MIX_PARTS, "lang", "doc_id", max_repeat=_MIX_REPEAT
    )


_TEMP_BUCKET = ("CAST(('0x' || substr(md5('temperature|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
                "AS UBIGINT)::BIGINT % 10000")

_TEMPERATURE_SQL = f"""
WITH counts AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source
),
weighted AS (
  SELECT source, n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS w
  FROM counts
),
sums AS (SELECT CAST(sum(w) AS BIGINT) AS s FROM weighted),
budget AS (
  SELECT min((n * 2 * s) // w) AS b FROM weighted CROSS JOIN sums
),
factors AS (
  SELECT source,
         (w * b) // (s * n) AS epochs,
         ((w * b) - ((w * b) // (s * n)) * s * n) * 10000 // (s * n)
           AS rem_bound
  FROM weighted CROSS JOIN sums CROSS JOIN budget
),
gated AS (
  SELECT d.doc_id, d.source,
         f.epochs + (CASE WHEN {_TEMP_BUCKET} < f.rem_bound THEN 1 ELSE 0 END)
           AS copies
  FROM documents d JOIN factors f USING (source)
)
SELECT doc_id, source,
       CAST(unnest(generate_series(1, copies)) AS BIGINT) AS epoch
FROM gated WHERE copies >= 1
"""


@register(
    "temperature_mixture",
    _TEMPERATURE_SQL,
    "Temperature-flattened mixture (UniMax/mT5-style tau=2, <=2 epochs): "
    "per-source share proportional to sqrt(n) — weights DERIVED from the "
    "data in-plan (floor of the IEEE sqrt chain, bit-portable where "
    "pow() is not), then mixture_resample's exact bigint-div budget/"
    "epoch machinery with the k-row factor table broadcast back.",
)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    return sampling.temperature_mixture(
        docs, "source", "doc_id", tau=2, max_repeat=2
    )


# PII injection: the synthetic corpus is digit/@-free word salad, so the
# query plants deterministic doc_id-derived spans in ~1/5, 1/7, 1/11 of
# docs — detection is fully controlled and zero-count rows prove the
# patterns don't fire on clean text.
_PII_INJECT_SQL = """
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
                THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR)
                     || '@mail.example.com'
              WHEN doc_id % 7 = 0
                THEN text || ' call +1 555-310-'
                     || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              WHEN doc_id % 11 = 0
                THEN text || ' from host 10.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR)
              ELSE text END AS t
  FROM documents
"""


def _pii_sql() -> str:
    from dirt_hadoop_similarity_spark.functions.textfns import PII_PATTERNS

    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(t, '{p}')) AS BIGINT) AS n_{t}"
        for t, p in PII_PATTERNS.items()
    )
    redacted = "t"
    for t, p in PII_PATTERNS.items():
        redacted = f"regexp_replace({redacted}, '{p}', '[{t.upper()}]', 'g')"
    return f"""
WITH injected AS ({_PII_INJECT_SQL})
SELECT doc_id,
       {counts},
       md5({redacted}) AS redacted_md5
FROM injected
"""


@register(
    "pii_redact",
    _pii_sql(),
    "PII detection + redaction (emails / phones / IPv4): regexp_count "
    "per type and a chained regexp_replace — one codegen'd narrow "
    "projection, map-only at any scale.  Patterns are Java-regex/RE2 "
    "common-subset so the oracle runs them verbatim; redacted text is "
    "md5-compared, so the oracle checks the exact redacted bytes.",
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    injected = (
        F.when(did % 5 == 0,
               F.concat(F.col("text"), F.lit(" reach me at user"),
                        did.cast("string"), F.lit("@mail.example.com")))
        .when(did % 7 == 0,
              F.concat(F.col("text"), F.lit(" call +1 555-310-"),
                       F.lpad((did % 10000).cast("string"), 4, "0")))
        .when(did % 11 == 0,
              F.concat(F.col("text"), F.lit(" from host 10."),
                       (did % 256).cast("string"), F.lit(".0."),
                       ((did * 7) % 256).cast("string")))
        .otherwise(F.col("text"))
    )
    base = docs.select("doc_id", injected.alias("t"))
    counts = textfns.pii_counts(F.col("t"))
    return base.select(
        "doc_id",
        *[c.cast("long").alias(f"n_{t}") for t, c in counts.items()],
        F.md5(textfns.pii_redact(F.col("t"))).alias("redacted_md5"),
    )


_CORPUS_DIFF_SQL = """
WITH old AS (
  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 13 <> 0
),
neu AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END) AS h
  FROM documents WHERE doc_id % 11 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.h IS NULL THEN 'added'
            WHEN n.h IS NULL THEN 'removed'
            WHEN o.h <> n.h THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id
"""


@register(
    "corpus_diff",
    _CORPUS_DIFF_SQL,
    "Dataset-version delta: added/removed/changed/unchanged per doc "
    "between two corpus snapshots (simulated by doc_id mod drops and a "
    "' v2' edit).  Each side collapses to (key, md5) BEFORE the "
    "full-outer join, so only 16-byte digests shuffle at 100 TB.",
)
def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import curation

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id")
    old = docs.filter(did % 13 != 0)
    new = docs.filter(did % 11 != 0).withColumn(
        "text",
        F.when(did % 17 == 0, F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")),
    )
    return curation.corpus_diff(old, new, "doc_id")


def _clf_sql() -> str:
    from dirt_hadoop_similarity_spark.functions.textfns import QUALITY_CLF as W

    # feature fragments identical to _TEXT_QUALITY_SQL (already verified
    # bit-exact vs the Spark expressions); the logit mirrors the Python
    # operand order exactly — +,*,/ are correctly-rounded IEEE, so no
    # rounding slack is needed on the threshold comparison.
    return f"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), w -> w <> '') AS toks,
         list_filter(string_split(lower(text), ' '), w -> w <> '') AS ltoks
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         CASE WHEN len(ltoks) > 0
              THEN CAST(len(list_filter(ltoks, w -> list_contains([{_STOP_LIST}], w))) AS DOUBLE)
                   / len(ltoks) ELSE 0 END AS stop_ratio,
         CASE WHEN length(text) > 0
              THEN CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                   / length(text) ELSE 0 END AS punct_ratio,
         CASE WHEN len(toks) > 0
              THEN CAST(list_sum(list_transform(toks, w -> length(w))) AS DOUBLE) / len(toks)
              ELSE 0 END AS mean_word_len
  FROM base
),
scored AS (
  SELECT doc_id,
         {W["bias"]} + {W["len_score"]} * least(n_tokens / 100.0, 1.0)
                     + {W["stop_ratio"]} * stop_ratio
                     + {W["punct_ratio"]} * punct_ratio
                     + {W["mean_word_len"]} * (mean_word_len / 10.0) AS logit
  FROM m
)
SELECT doc_id, round(logit, 6) AS logit, logit > 0.0 AS keep
FROM scored
"""


@register(
    "quality_classifier",
    _clf_sql(),
    "Model-based quality filtering (the CCNet/fasttext-style stage): a "
    "linear scorer over the native text features, fused into the scan "
    "projection — map-only at any scale.  Emits the logit, not the "
    "sigmoid: +,*,/ are bit-portable IEEE where exp() is not, and the "
    "monotone link means thresholds translate (logit 0 = p 0.5).",
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    base = docs.select(
        "doc_id", t.alias("text"),
        textfns.tokens(t).alias("toks"),
        textfns.tokens(F.lower(t)).alias("ltoks"),
    )
    # bind the logit once: referenced at TWO sites (round + keep), and
    # its stopword/mean-word-length terms are interpreted HOFs over the
    # bound arrays — an unbound logit expression runs them both twice
    # per row (the r13 tokenize-once class, one level up the tree)
    logit = textfns.classifier_logit_from(
        F.col("toks"), F.col("ltoks"), F.col("text"))
    return base.select("doc_id", logit.alias("_logit")).select(
        "doc_id",
        F.round("_logit", 6).alias("logit"),
        (F.col("_logit") > 0.0).alias("keep"),
    )


_SHARDS_N = 8

_SHARDS_SQL = f"""
WITH h AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5('shard|' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS UBIGINT)::BIGINT % {_SHARDS_N} AS shard,
         CAST(('0x' || substr(md5('shard|order|' || CAST(doc_id AS VARCHAR)), 1, 15))
              AS UBIGINT)::BIGINT AS ord
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) AS BIGINT)
         AS pos
FROM h
"""


@register(
    "training_shards",
    _SHARDS_SQL,
    "Deterministic training-shard layout: hash-bucketed shard "
    "membership plus an independent second hash for within-shard order "
    "— a reproducible global 'shuffle' with no corpus-wide sort.  The "
    "only wide op is the per-shard row_number window; shards are the "
    "window partitions, so shard count scales with the corpus "
    "(file-sized shards at 100 TB).",
)
def training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return sampling.shard_assignments(docs, "doc_id", _SHARDS_N)


# ---------------------------------------------------------------------------
# eval-set decontamination + BPE pair counting
# ---------------------------------------------------------------------------

_BENCH_IDS = (5, 17, 42, 101, 250)  # stand-in "benchmark/eval" documents
_CONTAM_MIN_SHINGLES = 2

_DECONTAM_SQL = f"""
WITH sh AS ({_SHINGLES_SQL}),
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id IN ({', '.join(map(str, _BENCH_IDS))})
),
hits AS (
  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM sh s JOIN bench b ON b.shingle = s.shingle
  WHERE s.doc_id NOT IN ({', '.join(map(str, _BENCH_IDS))})
  GROUP BY s.doc_id
)
SELECT doc_id, n_shared FROM hits WHERE n_shared >= {_CONTAM_MIN_SHINGLES}
"""


@register(
    "decontaminate",
    _DECONTAM_SQL,
    "Eval-set decontamination: corpus documents sharing >= 2 distinct "
    "3-gram shingles with the benchmark set get flagged (then dropped "
    "from training data).  The benchmark shingle set is tiny -> "
    "broadcast; the corpus side is the shared word_shingles relation, "
    "so the check is one broadcast hash join, no shuffle of the corpus.",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sh = dedup.word_shingles(docs, n=3)
    bench = (
        sh.filter(F.col("doc_id").isin(*_BENCH_IDS))
        .select("shingle")
        .distinct()
    )
    return (
        sh.filter(~F.col("doc_id").isin(*_BENCH_IDS))
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _CONTAM_MIN_SHINGLES)
    )


_BPE_SQL = """
WITH words AS (
  SELECT unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS w
  FROM documents
),
pairs AS (
  SELECT substr(w, i, 2) AS pair
  FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i FROM words)
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY pair HAVING count(*) >= 100
"""


@register(
    "bpe_pair_counts",
    _BPE_SQL,
    "BPE tokenizer training, one merge-step: corpus-wide adjacent "
    "character-pair frequencies (the argmax pair becomes the next "
    "merge).  Pure explode + groupBy with map-side partial aggregation "
    "— the shuffle is |distinct pairs| (bounded by alphabet^2), not "
    "corpus mass; the full trainer loops this with a merge table "
    "broadcast back.",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = F.explode(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
    ).alias("w")
    # length >= 2: Spark's sequence(1, 0) is the DESCENDING [1, 0]
    # (DuckDB's generate_series(1, 0) is empty) — 1-char words must be
    # excluded explicitly or they emit phantom pairs
    words = docs.select(w).filter(F.length("w") >= 2)
    pair = F.expr("substr(w, i, 2)")
    pairs = words.select(
        F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"), "w"
    ).select(pair.alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 100)
    )


# ---------------------------------------------------------------------------
# round-3 additions: semantic dedup, DSIR selection, span dedup, chunking
# ---------------------------------------------------------------------------

_SEMANTIC_TAU = 0.2

_SEMANTIC_DEDUP_SQL = f"""
WITH buckets AS ({_LSH_BUCKET_SQL}),
cv AS (
  SELECT e.vec_id, b.bucket, i,
         CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB}) e
  JOIN buckets b ON b.vec_id = e.vec_id
),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cv GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(sum(a.c * b.c) AS BIGINT) AS dot
  FROM cv a JOIN cv b
    ON a.i = b.i AND a.bucket = b.bucket AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
pairs AS (
  SELECT id_a, id_b, pcos FROM (
    SELECT d.id_a, d.id_b,
           round(CAST(d.dot AS DOUBLE)
                 / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS pcos
    FROM dots d
    JOIN norms na ON na.vec_id = d.id_a
    JOIN norms nb ON nb.vec_id = d.id_b
  ) WHERE pcos >= {_SEMANTIC_TAU}
),
matches AS (
  SELECT id_b, CAST(min(id_a) AS BIGINT) AS dup_of, min_by(pcos, id_a) AS cos
  FROM pairs GROUP BY id_b
)
SELECT b.vec_id, b.bucket AS cell, m.dup_of IS NULL AS kept, m.dup_of, m.cos
FROM buckets b LEFT JOIN matches m ON m.id_b = b.vec_id
"""


@register(
    "semantic_dedup",
    _SEMANTIC_DEDUP_SQL,
    "SemDeDup-style per-vector keep/drop: sign-LSH cells stand in for "
    "k-means clusters, and inside each cell every vector with a "
    "lower-id cosine-neighbor above the threshold is dropped in favor "
    "of that keeper.  Cell equi-join candidates only — never all-pairs.",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bits pinned explicitly: the operator's DEFAULT is the
    # occupancy-scaled mode since r15 (scale-safe but corpus-size-
    # dependent); the oracle needs the fixed plan-stable grid
    return similarity.semantic_dedup(
        _emb(spark, sf_dir), threshold=_SEMANTIC_TAU, bits=8)


_DSIR_BUCKETS = 64

_DSIR_SQL = f"""
WITH tok AS (
  SELECT doc_id, is_tgt,
         CAST(('0x' || substr(md5('dsir|' || w), 1, 15)) AS UBIGINT)::BIGINT
           % {_DSIR_BUCKETS} AS b
  FROM (SELECT doc_id, (lang = 'en') AS is_tgt,
               unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS w
        FROM documents)
),
stats AS (
  SELECT b, count(*) AS raw_c,
         sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_c
  FROM tok GROUP BY b
),
tot AS (SELECT sum(raw_c) AS raw_n, sum(tgt_c) AS tgt_n FROM stats),
lr AS (
  SELECT b,
         CAST(round(ln(((tgt_c + 1.0) / (tgt_n + {_DSIR_BUCKETS}.0))
                       / ((raw_c + 1.0) / (raw_n + {_DSIR_BUCKETS}.0)))
                    * 1000000) AS BIGINT) AS lr_micro
  FROM stats, tot
),
docw AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(lr_micro) AS BIGINT) AS weight_micro
  FROM tok JOIN lr USING (b) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(w.n_tokens, 0) AS BIGINT) AS n_tokens,
       CAST(coalesce(w.weight_micro, 0) AS BIGINT) AS weight_micro
FROM documents d LEFT JOIN docw w ON w.doc_id = d.doc_id
"""


@register(
    "dsir_importance",
    _DSIR_SQL,
    "DSIR-style data selection: per-document hashed-unigram importance "
    "weight log(p_target/p_raw), target = lang='en' docs.  Per-bucket "
    "log-ratios are quantized to integer micro-nats before the "
    "per-document sum, so the weight is exact integer arithmetic — "
    "order-independent and value-checkable.",
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    return sampling.dsir_weights(
        docs, F.col("lang") == "en", buckets=_DSIR_BUCKETS
    )


_SPAN_K = 5

_DUP_SPANS_SQL = f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
  FROM documents
),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos,
         md5(array_to_string(list_slice(t, i, i + {_SPAN_K} - 1), ' ')) AS g
  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {_SPAN_K} + 1)) AS i
        FROM base WHERE len(t) >= {_SPAN_K})
),
hot AS (SELECT g FROM g GROUP BY g HAVING count(*) >= 2),
dup AS (SELECT doc_id, pos FROM g JOIN hot USING (g)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM dup
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPAN_K} - 1 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams
FROM isl GROUP BY doc_id, isl
"""


@register(
    "duplicate_spans",
    _DUP_SPANS_SQL,
    "Exact-substring duplication localized to token spans (suffix-array "
    "dedup at k-gram resolution): maximal runs whose 5-grams occur at "
    "least twice in the corpus, via digest-keyed gram counts and a "
    "per-document gaps-and-islands merge.",
)
def duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.duplicate_spans(load(spark, sf_dir, "documents"), k=_SPAN_K)


_CHUNK_MAX, _CHUNK_STRIDE = 64, 48

_CHUNK_SQL = f"""
WITH base AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
  FROM documents
)
SELECT doc_id,
       CAST((s // {_CHUNK_STRIDE}) AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS start_tok,
       CAST(len(list_slice(t, s + 1, s + {_CHUNK_MAX})) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(t, s + 1, s + {_CHUNK_MAX}), ' ')) AS chunk_hash
FROM (SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, {_CHUNK_STRIDE})) AS s
      FROM base WHERE len(t) >= 1)
"""


@register(
    "doc_chunking",
    _CHUNK_SQL,
    "Overlapping token-window chunking (64-token windows, stride 48) "
    "for embedding/retrieval pipelines — map-only, fuses into the scan.",
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import curation

    return curation.chunk_documents(
        load(spark, sf_dir, "documents"),
        max_tokens=_CHUNK_MAX, stride=_CHUNK_STRIDE,
    )


_LM_THR = -3_420_000  # micro-nats mean log-prob; ~25th pct at sf0.01

_LM_SQL = f"""
WITH base AS (
  SELECT doc_id, (lang = 'en') AS is_tgt,
         list_filter(string_split(lower(text), ' '), w -> w <> '') AS t
  FROM documents
),
doc_bi AS (
  SELECT doc_id, is_tgt, v, w, count(*) AS c
  FROM (
    SELECT doc_id, is_tgt, t[i] AS v, t[i + 1] AS w
    FROM (SELECT doc_id, is_tgt, t, unnest(generate_series(1, len(t) - 1)) AS i
          FROM base WHERE len(t) >= 2)
  ) GROUP BY doc_id, is_tgt, v, w
),
tgt_uni AS (
  SELECT u, count(*) AS cu
  FROM (SELECT unnest(t) AS u FROM base WHERE is_tgt) GROUP BY u
),
tgt_bi AS (SELECT v, w, sum(c) AS cb FROM doc_bi WHERE is_tgt GROUP BY v, w),
scal AS (SELECT sum(cu) AS n_tok, count(*) + 1 AS vsize FROM tgt_uni),
types AS (SELECT DISTINCT v, w FROM doc_bi),
lp AS (
  SELECT ty.v, ty.w,
         CAST(round(ln(
             0.5 * ((coalesce(tb.cb, 0) + 1.0)
                    / (coalesce(uv.cu, 0) + s.vsize))
           + 0.5 * ((coalesce(uw.cu, 0) + 1.0) / (s.n_tok + s.vsize))
         ) * 1000000) AS BIGINT) AS lp_micro
  FROM types ty
  LEFT JOIN tgt_bi tb ON tb.v = ty.v AND tb.w = ty.w
  LEFT JOIN tgt_uni uv ON uv.u = ty.v
  LEFT JOIN tgt_uni uw ON uw.u = ty.w
  CROSS JOIN scal s
),
scored AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_transitions,
         CAST(sum(c * lp_micro) AS BIGINT) AS lp_micro_sum
  FROM doc_bi JOIN lp USING (v, w) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(s.n_transitions, 0) AS BIGINT) AS n_transitions,
       CAST(coalesce(s.lp_micro_sum, 0) AS BIGINT) AS lp_micro_sum,
       (coalesce(s.n_transitions, 0) > 0
        AND coalesce(s.lp_micro_sum, 0)
            >= {_LM_THR} * coalesce(s.n_transitions, 0)) AS keep
FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
"""


@register(
    "lm_quality",
    _LM_SQL,
    "CCNet-style LM quality filter: interpolated bigram LM trained on "
    "the lang='en' subset, every document scored by total transition "
    "log-prob in integer micro-nats (exact across engines); keep = "
    "mean log-prob over the threshold, decided as an integer compare.",
)
def lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import lm

    docs = load(spark, sf_dir, "documents")
    return lm.bigram_lm_scores(
        docs, F.col("lang") == "en", mean_lp_min_micro=_LM_THR
    )


_HN_SKIP, _HN_TAKE, _HN_MAXCOS = 2, 10, 0.95

_HARD_NEG_SQL = f"""
WITH qv AS (
  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
          AND {_VALID_EMB})
),
cv AS (
  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB})
),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM cv GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(sum(q.q * c.c) AS BIGINT) AS dot
  FROM qv q JOIN cv c ON c.i = q.i AND q.vec_id <> c.vec_id
  GROUP BY q.vec_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CASE WHEN sqrt(CAST(nq.n2 AS DOUBLE)) > 0
                     AND sqrt(CAST(nc.n2 AS DOUBLE)) > 0
                    THEN CAST(d.dot AS DOUBLE)
                         / (sqrt(CAST(nq.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
                    ELSE 0 END, 6) AS cos
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rank
  FROM scored
) WHERE rank > {_HN_SKIP} AND rank <= {_HN_SKIP + _HN_TAKE}
  AND cos <= {_HN_MAXCOS}
"""


@register(
    "ann_hard_negatives",
    _HARD_NEG_SQL,
    "Hard-negative mining: per query, neighbors ranked (2, 12] under a "
    "0.95 near-dup cosine ceiling — the denoised contrastive-training "
    "band; ranks come from the full ordering so the ceiling never "
    "promotes deeper neighbors.",
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hard_negatives(
        _emb(spark, sf_dir), _ANN_QUERY_IDS,
        skip=_HN_SKIP, take=_HN_TAKE, max_cos=_HN_MAXCOS,
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composed index (coarse cells + residual PQ codes, ADC)
# ---------------------------------------------------------------------------

_IVFPQ_M, _IVFPQ_DSUB, _IVFPQ_KSUB = 8, 8, 16

_ANN_IVFPQ_SQL = f"""
WITH qall AS (
  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB})
),
qcent AS (
  SELECT vec_id AS cell, i, q FROM qall WHERE vec_id < {_IVF_N_CENT}
),
norms AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qall GROUP BY vec_id),
vc_dots AS (
  SELECT v.vec_id, c.cell, CAST(sum(v.q * c.q) AS BIGINT) AS dot
  FROM qall v JOIN qcent c ON c.i = v.i
  GROUP BY v.vec_id, c.cell
),
vc_cos AS (
  SELECT d.vec_id, d.cell,
         round(CASE WHEN nv.n2 > 0 AND nc.n2 > 0
                    THEN CAST(d.dot AS DOUBLE)
                         / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
                    ELSE 0 END, 6) AS ccos
  FROM vc_dots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cell
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
    FROM vc_cos) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
    FROM vc_cos WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
  ) WHERE rn <= {_IVF_NPROBE}
),
res AS (
  SELECT v.vec_id, a.cell, v.i, v.q - c.q AS r
  FROM qall v
  JOIN assigned a ON a.vec_id = v.vec_id
  JOIN qcent c ON c.cell = a.cell AND c.i = v.i
),
rsub AS (SELECT vec_id, cell, (i - 1) // {_IVFPQ_DSUB} AS sub, i, r FROM res),
rcb AS (
  SELECT vec_id - {_IVF_N_CENT} AS code, sub, i, r AS c
  FROM rsub
  WHERE vec_id >= {_IVF_N_CENT} AND vec_id < {_IVF_N_CENT + _IVFPQ_KSUB}
),
vdist AS (
  SELECT v.vec_id, v.cell, v.sub, c.code,
         CAST(sum((v.r - c.c) * (v.r - c.c)) AS BIGINT) AS d2
  FROM rsub v JOIN rcb c ON c.sub = v.sub AND c.i = v.i
  GROUP BY v.vec_id, v.cell, v.sub, c.code
),
codes AS (
  SELECT vec_id, cell, sub, code FROM (
    SELECT vec_id, cell, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM vdist) WHERE rn = 1
),
qres AS (
  SELECT p.query_id, p.cell, v.i, v.q - c.q AS r
  FROM probes p
  JOIN qall v ON v.vec_id = p.query_id
  JOIN qcent c ON c.cell = p.cell AND c.i = v.i
),
qrsub AS (SELECT query_id, cell, (i - 1) // {_IVFPQ_DSUB} AS sub, i, r FROM qres),
lut AS (
  SELECT q.query_id, q.cell, q.sub, c.code,
         CAST(sum((q.r - c.c) * (q.r - c.c)) AS BIGINT) AS d2
  FROM qrsub q JOIN rcb c ON c.sub = q.sub AND c.i = q.i
  GROUP BY q.query_id, q.cell, q.sub, c.code
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM codes c
  JOIN lut l ON l.cell = c.cell AND l.sub = c.sub AND l.code = c.code
            AND l.query_id <> c.vec_id
  GROUP BY l.query_id, c.vec_id
)
SELECT query_id, neighbor_id, adc_d2, rank FROM (
  SELECT query_id, neighbor_id, adc_d2,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_d2, neighbor_id) AS BIGINT) AS rank
  FROM adc) WHERE rank <= 5
"""


@register(
    "ann_ivfpq_topk",
    _ANN_IVFPQ_SQL,
    "IVF-PQ (IVFADC) approximate top-5: coarse cells route vectors, PQ "
    "encodes the residual to the cell centroid, and search probes 2 "
    "cells scoring codes against a per-(query, cell) residual lookup "
    "table — exact-integer distances end to end.  PQ seeds offset past "
    "the coarse seeds, whose own residuals are zero.",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivfpq_topk(
        _emb(spark, sf_dir),
        _ANN_QUERY_IDS,
        k=5,
        n_centroids=_IVF_N_CENT,
        nprobe=_IVF_NPROBE,
        m=_IVFPQ_M,
        dsub=_IVFPQ_DSUB,
        ksub=_IVFPQ_KSUB,
    )


# ---------------------------------------------------------------------------
# IVF-PQ with a TRAINED residual codebook: Lloyd's unrolled in the oracle
# ---------------------------------------------------------------------------

_IVFPQ_TRAIN_ITERS = 2


def _lloyd_iteration_sql(prev: str, cur: str) -> str:
    """One unrolled Lloyd's round over the residual subvectors,
    replaying operators/similarity._lloyd_subspaces exactly:

      * assignment: per (vec, sub), the argmin exact-int d2 codebook
        entry, ties to the LOWEST code (row_number ORDER BY d2, code);
      * update: per (sub, code, component), round(avg(r)) — the int64
        component sums stay < 2^53 at any tested SF, so the single
        trailing double division (and the half-away-from-zero round
        both engines share) is engine-exact;
      * emptied (sub, code) cells keep their previous entry (the
        coalesce), so the codebook stays m × ksub.
    """
    return f"""
vd_{cur} AS (
  SELECT v.vec_id, v.sub, c.code,
         CAST(sum((v.r - c.c) * (v.r - c.c)) AS BIGINT) AS d2
  FROM rsub v JOIN cb_{prev} c ON c.sub = v.sub AND c.i = v.i
  GROUP BY v.vec_id, v.sub, c.code
),
as_{cur} AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d2, code) AS rn
    FROM vd_{cur}) WHERE rn = 1
),
mn_{cur} AS (
  SELECT a.sub, a.code, v.i,
         CAST(round(CAST(sum(v.r) AS DOUBLE) / count(*)) AS BIGINT) AS c
  FROM as_{cur} a
  JOIN rsub v ON v.vec_id = a.vec_id AND v.sub = a.sub
  GROUP BY a.sub, a.code, v.i
),
cb_{cur} AS (
  SELECT p.sub, p.code, p.i, coalesce(m.c, p.c) AS c
  FROM cb_{prev} p
  LEFT JOIN mn_{cur} m ON m.sub = p.sub AND m.code = p.code AND m.i = p.i
)"""


_TRAINED_CB = f"cb_it{_IVFPQ_TRAIN_ITERS}"

_ANN_IVFPQ_TRAINED_SQL = (
    f"""
WITH qall AS (
  SELECT vec_id, i, CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB})
),
qcent AS (
  SELECT vec_id AS cell, i, q FROM qall WHERE vec_id < {_IVF_N_CENT}
),
norms AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS n2 FROM qall GROUP BY vec_id),
vc_dots AS (
  SELECT v.vec_id, c.cell, CAST(sum(v.q * c.q) AS BIGINT) AS dot
  FROM qall v JOIN qcent c ON c.i = v.i
  GROUP BY v.vec_id, c.cell
),
vc_cos AS (
  SELECT d.vec_id, d.cell,
         round(CASE WHEN nv.n2 > 0 AND nc.n2 > 0
                    THEN CAST(d.dot AS DOUBLE)
                         / (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nc.n2 AS DOUBLE)))
                    ELSE 0 END, 6) AS ccos
  FROM vc_dots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cell
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
    FROM vc_cos) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rn
    FROM vc_cos WHERE vec_id IN ({', '.join(map(str, _ANN_QUERY_IDS))})
  ) WHERE rn <= {_IVF_NPROBE}
),
res AS (
  SELECT v.vec_id, a.cell, v.i, v.q - c.q AS r
  FROM qall v
  JOIN assigned a ON a.vec_id = v.vec_id
  JOIN qcent c ON c.cell = a.cell AND c.i = v.i
),
rsub AS (SELECT vec_id, cell, (i - 1) // {_IVFPQ_DSUB} AS sub, i, r FROM res),
cb_it0 AS (
  SELECT vec_id - {_IVF_N_CENT} AS code, sub, i, r AS c
  FROM rsub
  WHERE vec_id >= {_IVF_N_CENT} AND vec_id < {_IVF_N_CENT + _IVFPQ_KSUB}
),"""
    + ",".join(
        _lloyd_iteration_sql(f"it{k}", f"it{k + 1}")
        for k in range(_IVFPQ_TRAIN_ITERS)
    )
    + f""",
vdist AS (
  SELECT v.vec_id, v.cell, v.sub, c.code,
         CAST(sum((v.r - c.c) * (v.r - c.c)) AS BIGINT) AS d2
  FROM rsub v JOIN {_TRAINED_CB} c ON c.sub = v.sub AND c.i = v.i
  GROUP BY v.vec_id, v.cell, v.sub, c.code
),
codes AS (
  SELECT vec_id, cell, sub, code FROM (
    SELECT vec_id, cell, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, code) AS rn
    FROM vdist) WHERE rn = 1
),
qres AS (
  SELECT p.query_id, p.cell, v.i, v.q - c.q AS r
  FROM probes p
  JOIN qall v ON v.vec_id = p.query_id
  JOIN qcent c ON c.cell = p.cell AND c.i = v.i
),
qrsub AS (SELECT query_id, cell, (i - 1) // {_IVFPQ_DSUB} AS sub, i, r FROM qres),
lut AS (
  SELECT q.query_id, q.cell, q.sub, c.code,
         CAST(sum((q.r - c.c) * (q.r - c.c)) AS BIGINT) AS d2
  FROM qrsub q JOIN {_TRAINED_CB} c ON c.sub = q.sub AND c.i = q.i
  GROUP BY q.query_id, q.cell, q.sub, c.code
),
adc AS (
  SELECT l.query_id, c.vec_id AS neighbor_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
  FROM codes c
  JOIN lut l ON l.cell = c.cell AND l.sub = c.sub AND l.code = c.code
            AND l.query_id <> c.vec_id
  GROUP BY l.query_id, c.vec_id
)
SELECT query_id, neighbor_id, adc_d2, rank FROM (
  SELECT query_id, neighbor_id, adc_d2,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_d2, neighbor_id) AS BIGINT) AS rank
  FROM adc) WHERE rank <= 5
"""
)


@register(
    "ann_ivfpq_trained",
    _ANN_IVFPQ_TRAINED_SQL,
    "IVF-PQ with a TRAINED residual codebook: 2 fixed Lloyd's "
    "iterations over the residual subvectors (the "
    "similarity._lloyd_subspaces loop), "
    "unrolled one CTE block per round in the oracle — assignment is "
    "argmin exact-int d2 (ties to the lowest code), the update is "
    "round(exact-int-sum / count), emptied cells keep their previous "
    "entry.  Proves the TRAINING iteration through the driver, not "
    "just the seeded index the other IVF/PQ rows cover.",
)
def ann_ivfpq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivfpq_topk(
        _emb(spark, sf_dir),
        _ANN_QUERY_IDS,
        k=5,
        n_centroids=_IVF_N_CENT,
        nprobe=_IVF_NPROBE,
        m=_IVFPQ_M,
        dsub=_IVFPQ_DSUB,
        ksub=_IVFPQ_KSUB,
        train_iters=_IVFPQ_TRAIN_ITERS,
    )


# ---------------------------------------------------------------------------
# round-5 additions: per-source caps, cluster balancing, split contamination
# ---------------------------------------------------------------------------

_SOURCE_CAP = 10

_SOURCE_CAP_SQL = f"""
WITH scored AS ({{clf}})
SELECT doc_id, source, logit, src_rank FROM (
  SELECT d.doc_id, d.source, s.logit,
         CAST(row_number() OVER (PARTITION BY d.source
                                 ORDER BY s.logit DESC, d.doc_id)
              AS BIGINT) AS src_rank
  FROM documents d JOIN scored s ON s.doc_id = d.doc_id
) WHERE src_rank <= {_SOURCE_CAP}
"""


@register(
    "source_cap_keepers",
    None,  # oracle wired below (_clf_sql is defined mid-module)
    "Per-source document cap ranked by the quality-classifier logit — "
    "the RefinedWeb/C4 'no single domain dominates' policy, keeping "
    "each source's BEST documents rather than a random subset.  The "
    "cap is a two-phase decomposable top-k (sampling.cap_per_group): "
    "no global sort, hot domains never serialize into one task.",
)
def source_cap_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    t = F.col("text")
    # tokenize-once discipline (the r13 text_quality precedent): passing
    # raw tokens(text) EXPRESSIONS into classifier_logit_from re-ran the
    # split per reference site inside the logit (size + mean-word-length
    # both touch toks; HOFs sit outside codegen subexpression
    # elimination), so bind both arrays in a middle projection first.
    base = docs.select(
        "doc_id", "source", t.alias("text"),
        textfns.tokens(t).alias("_toks"),
        textfns.tokens(F.lower(t)).alias("_ltoks"),
    )
    logit = textfns.classifier_logit_from(
        F.col("_toks"), F.col("_ltoks"), F.col("text"))
    scored = base.select(
        "doc_id", "source", F.round(logit, 6).alias("logit"))
    return sampling.cap_per_group(
        scored, "source", _SOURCE_CAP,
        [F.col("logit").desc()], "doc_id", rank_name="src_rank")


QUERIES["source_cap_keepers"].oracle = _SOURCE_CAP_SQL.format(clf=_clf_sql())


_BALANCE_CAP = 12
_BALANCE_BITS = 4

_BALANCE_SQL = f"""
WITH cells AS (
  SELECT vec_id,
         CAST((CASE WHEN embedding[1] >= 0 THEN 1 ELSE 0 END)
            + (CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END)
            + (CASE WHEN embedding[3] >= 0 THEN 4 ELSE 0 END)
            + (CASE WHEN embedding[4] >= 0 THEN 8 ELSE 0 END) AS BIGINT)
           AS cell,
         {_H60.format(expr="'balance|' || CAST(vec_id AS VARCHAR)")} AS hv
  FROM embeddings WHERE {_VALID_EMB}
)
SELECT vec_id, cell, sample_rank FROM (
  SELECT vec_id, cell,
         CAST(row_number() OVER (PARTITION BY cell
                                 ORDER BY hv, vec_id) AS BIGINT) AS sample_rank
  FROM cells
) WHERE sample_rank <= {_BALANCE_CAP}
"""


@register(
    "cluster_balanced_sample",
    _BALANCE_SQL,
    "Cluster-balanced embedding subsample (DataComp-style topic "
    "flattening): sign-LSH cells stand in for k-means clusters and "
    "each cell is capped at a uniform deterministic reservoir — "
    "over-represented topics shrink, rare topics survive whole.  Only "
    "(id, cell, hash) rows shuffle; the vectors never move.  Behind "
    "the shared valid_vectors admission gate since r14: an ungated "
    "NULL embedding sign-buckets to cell 0 (every CASE term falls "
    "through) and its reservoir draw displaces valid all-negative-sign "
    "vectors from the cap.",
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    return sampling.cell_balanced_sample(
        _emb(spark, sf_dir),
        cap=_BALANCE_CAP, bits=_BALANCE_BITS)


_CONTAM_SQL = f"""
WITH pairs AS ({_MINHASH_LSH_SQL}),
sp AS (
  SELECT doc_id,
         CASE WHEN {_SPLIT_BUCKET} < 8000 THEN 'train'
              WHEN {_SPLIT_BUCKET} < 9000 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents
)
SELECT least(pa.split, pb.split) AS split_a,
       greatest(pa.split, pb.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT p.id_b) AS BIGINT) AS n_docs_b
FROM pairs p
JOIN sp pa ON pa.doc_id = p.id_a
JOIN sp pb ON pb.doc_id = p.id_b
WHERE p.est_jaccard >= 0.5
GROUP BY least(pa.split, pb.split), greatest(pa.split, pb.split)
"""


@register(
    "split_contamination",
    _CONTAM_SQL,
    "Cross-split near-duplicate leakage matrix: the deterministic "
    "hash-bucket split x the MinHash/LSH near-dup chain, counting "
    "est-Jaccard >= 0.5 pairs per unordered split pair.  (test, train) "
    "mass is evaluation contamination; (train, train) is intra-split "
    "duplication.  The audited split is bit-identical to the one "
    "assign_split ships to training.",
)
def split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup.split_contamination(
        docs, {"train": 0.8, "valid": 0.1, "test": 0.1}, min_est=0.5)


_WATERFILL_BUDGET = 20_000

_WATERFILL_SQL = f"""
WITH g AS (
  SELECT source,
         CAST(sum(len(list_filter(string_split(text, ' '), w -> w <> '')))
              AS BIGINT) AS t
  FROM documents GROUP BY source
),
r AS (
  SELECT source, t,
         CAST(row_number() OVER (ORDER BY t, source) AS BIGINT) AS rn,
         CAST(sum(t) OVER (ORDER BY t, source
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS p
  FROM g
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(t) AS BIGINT) AS total FROM g),
cand AS (
  SELECT r.t,
         (CAST({_WATERFILL_BUDGET} AS DOUBLE) - CAST(r.p - r.t AS DOUBLE))
           / CAST(tot.k - r.rn + 1 AS DOUBLE) AS lam,
         CAST(coalesce(lag(r.t) OVER (ORDER BY r.rn), 0) AS DOUBLE) AS prev_t
  FROM r, tot WHERE tot.total > {_WATERFILL_BUDGET}
),
lev AS (SELECT min(lam) AS level FROM cand
        WHERE lam < t AND lam >= prev_t)
SELECT source, n_tokens,
       round(alloc, 6) AS allocation,
       round(CASE WHEN n_tokens > 0 THEN alloc / n_tokens ELSE 1.0 END, 6)
         AS keep_rate,
       (level IS NOT NULL AND CAST(n_tokens AS DOUBLE) > level) AS capped
FROM (
  SELECT g.source, g.t AS n_tokens, lev.level,
         CASE WHEN lev.level IS NULL OR g.t <= lev.level
              THEN CAST(g.t AS DOUBLE) ELSE lev.level END AS alloc
  FROM g, lev
)
"""


@register(
    "source_budget_waterfill",
    _WATERFILL_SQL,
    "Water-filling token-budget allocation across sources: the level L "
    "with sum min(tokens_s, L) = budget caps large sources at a COMMON "
    "level while small sources keep everything — the continuous "
    "counterpart of mixture_resample's integer epochs.  Closed-form "
    "window arithmetic on the |sources|-row aggregate; the only "
    "corpus-sized op is the one partial-agg token count.",
)
def source_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import sampling

    docs = load(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(textfns.token_count(F.col("text"))).alias("n_tokens"))
    return sampling.budget_waterfill(
        per_source, _WATERFILL_BUDGET, group_col="source",
        tokens_col="n_tokens")


_RERANK_SHORTLIST = 20

# stage-1 shortlist: the verified IVFADC oracle, widened to the rerank
# depth (the SQL's only rank filter is the final top-k cut)
_RERANK_CAND_SQL = _ANN_IVFPQ_SQL.replace(
    "WHERE rank <= 5", f"WHERE rank <= {_RERANK_SHORTLIST}")

_ANN_RERANK_SQL = f"""
WITH cand AS ({_RERANK_CAND_SQL}),
cv AS (
  SELECT vec_id, i,
         CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB})
),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS n2
          FROM cv GROUP BY vec_id),
dots AS (
  SELECT cd.query_id, cd.neighbor_id, CAST(sum(a.c * b.c) AS BIGINT) AS dot
  FROM cand cd
  JOIN cv a ON a.vec_id = cd.query_id
  JOIN cv b ON b.vec_id = cd.neighbor_id AND b.i = a.i
  GROUP BY cd.query_id, cd.neighbor_id
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CASE WHEN na.n2 > 0 AND nb.n2 > 0
               THEN CAST(d.dot AS DOUBLE)
                    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               ELSE 0.0 END, 6) AS cos
  FROM dots d
  JOIN norms na ON na.vec_id = d.query_id
  JOIN norms nb ON nb.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS BIGINT)
           AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_ivfpq_rerank",
    _ANN_RERANK_SQL,
    "Two-stage ANN serving (FAISS IVFADC+refine): the IVF-PQ code index "
    "shortlists 20 candidates per query by approximate ADC distance, "
    "then the exact quantized cosine re-scores ONLY the shortlist for "
    "the final top-5 — recovering the recall the lossy codes give up "
    "while keeping raw-vector reads query-bounded (a broadcast "
    "candidate semi-fetch; the corpus streams once, codes stay the "
    "only corpus-sized relation at query time).",
)
def ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivfpq_rerank_topk(
        _emb(spark, sf_dir),
        _ANN_QUERY_IDS,
        k=5,
        rerank=_RERANK_SHORTLIST,
        n_centroids=_IVF_N_CENT,
        nprobe=_IVF_NPROBE,
        m=_IVFPQ_M,
        dsub=_IVFPQ_DSUB,
        ksub=_IVFPQ_KSUB,
    )


@register(
    "bpe_encode_corpus",
    _bpe_encode_oracle_sql(8),
    "Tokenizer APPLICATION at scale: encode every document with the "
    "8 trained BPE merges (bpe.apply_merges — a plan-time-unrolled "
    "chain of native replaces inside one transform, no UDF, no "
    "shuffle) and account per-doc word/BPE-token counts plus an "
    "order-sensitive md5 of the token stream.  Oracle: the training "
    "unroll's merge CTEs reused to encode a per-distinct-word "
    "relation, joined back through each document's word sequence.",
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.functions import bpe

    docs = load(spark, sf_dir, "documents")
    merges = bpe.train(docs, n_merges=8)
    toks = bpe.apply_merges(F.col("text"), merges)
    return (
        docs.select(
            "doc_id",
            textfns.tokens(F.lower(F.col("text"))).alias("w"),
            toks.alias("t"),
        )
        .filter(F.size("w") >= 1)
        .select(
            "doc_id",
            F.size("w").cast("long").alias("n_words"),
            F.size("t").cast("long").alias("n_bpe_tokens"),
            F.md5(F.concat_ws(" ", F.col("t"))).alias("stream_md5"),
        )
    )


_TIER_COARSE = 100_000

# CTE prefix of the LM oracle: everything up through the `scored` stage
_LM_CTE_PREFIX = _LM_SQL[:_LM_SQL.rindex("\nSELECT d.doc_id")]

_TIERS_SQL = f"""{_LM_CTE_PREFIX},
means AS (
  SELECT doc_id,
         CAST((lp_micro_sum
               - (((lp_micro_sum % n_transitions) + n_transitions)
                  % n_transitions)) / n_transitions AS BIGINT)
           AS mean_lp_micro
  FROM scored WHERE n_transitions > 0
),
bk AS (
  SELECT doc_id, mean_lp_micro,
         CAST((mean_lp_micro
               - (((mean_lp_micro % {_TIER_COARSE}) + {_TIER_COARSE})
                  % {_TIER_COARSE})) / {_TIER_COARSE} AS BIGINT) AS b
  FROM means
),
spine AS (
  SELECT b, CAST(count(*) AS BIGINT) AS cb FROM bk GROUP BY b
),
spine2 AS (
  SELECT b, cb,
         CAST(sum(cb) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cc
  FROM spine
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM means),
cuts AS (
  SELECT 'lo' AS cut_id,
         CAST(((n + 2) - ((n + 2) % 3)) / 3 AS BIGINT) AS cut FROM nn
  UNION ALL
  SELECT 'hi',
         CAST(((2 * n + 2) - ((2 * n + 2) % 3)) / 3 AS BIGINT) FROM nn
),
sel AS (
  SELECT cut_id, cut, b, cc - cb AS mass_before FROM (
    SELECT c.cut_id, c.cut, s.b, s.cc, s.cb,
           row_number() OVER (PARTITION BY c.cut_id ORDER BY s.b) AS rn
    FROM spine2 s JOIN cuts c ON s.cc >= c.cut
  ) WHERE rn = 1
),
vcounts AS (
  SELECT sel.cut_id, sel.cut, sel.mass_before, bk.mean_lp_micro,
         CAST(count(*) AS BIGINT) AS cv
  FROM bk JOIN sel ON bk.b = sel.b
  GROUP BY sel.cut_id, sel.cut, sel.mass_before, bk.mean_lp_micro
),
thr0 AS (
  SELECT cut_id, min(mean_lp_micro) AS thr FROM (
    SELECT cut_id, cut, mean_lp_micro,
           mass_before + sum(cv) OVER (PARTITION BY cut_id
                                       ORDER BY mean_lp_micro
                                       ROWS UNBOUNDED PRECEDING) AS cum
    FROM vcounts
  ) WHERE cum >= cut GROUP BY cut_id
),
thr AS (
  SELECT max(CASE WHEN cut_id = 'lo' THEN thr END) AS t_lo,
         max(CASE WHEN cut_id = 'hi' THEN thr END) AS t_hi
  FROM thr0
)
SELECT m.doc_id, m.mean_lp_micro,
       CASE WHEN m.mean_lp_micro <= t.t_lo THEN 'tail'
            WHEN m.mean_lp_micro <= t.t_hi THEN 'middle'
            ELSE 'head' END AS tier
FROM means m, thr t
"""


@register(
    "lm_perplexity_tiers",
    _TIERS_SQL,
    "CCNet head/middle/tail corpus tiering: three equal-mass tiers by "
    "mean log-prob under the target-trained LM.  The tier cuts are "
    "EXACT 1/3 and 2/3 order statistics found WITHOUT a global sort — "
    "a coarse value-bucket spine cumsum locates each cut's bucket, "
    "then a per-value cumsum inside only those buckets pins the exact "
    "threshold; both spines are bounded relations at any corpus size.  "
    "All arithmetic integer (floor-div means, ceil-div cuts), so "
    "every tier label is engine-exact.",
)
def lm_perplexity_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import lm

    docs = load(spark, sf_dir, "documents")
    scored = lm.bigram_lm_scores(docs, F.col("lang") == "en")
    return lm.perplexity_tiers(scored, coarse=_TIER_COARSE)


_Z_BITS = 16

_Z_INTERLEAVE = " | ".join(
    f"(((zx >> {i}) & 1) << {2 * i}) | (((zy >> {i}) & 1) << {2 * i + 1})"
    for i in range(_Z_BITS)
)


def _z_scale_sql(col: str, mn: str, mx: str) -> str:
    # DuckDB `//` is integer division when both operands are integers —
    # `(num - num % rng)` is exactly divisible, so trunc == floor and the
    # expression stays in BIGINT end-to-end (plain `/` would round-trip
    # through DOUBLE and lose exactness past 2^53, silently diverging
    # from Spark's int64 `div` — ADVICE r7)
    top = (1 << _Z_BITS) - 1
    num = f"(({col} - {mn}) * {top})"
    rng = f"({mx} - {mn})"
    return (f"CASE WHEN {rng} > 0 THEN "
            f"CAST(({num} - {num} % {rng}) // {rng} AS BIGINT) "
            f"ELSE 0 END")


_ZORDER_SQL = f"""
WITH m AS (
  SELECT event_id, CAST(user_id AS BIGINT) AS ua,
         CAST(round(value * 1000) AS BIGINT) AS vb
  FROM events
),
st AS (
  SELECT CAST(min(ua) AS BIGINT) AS mina, CAST(max(ua) AS BIGINT) AS maxa,
         CAST(min(vb) AS BIGINT) AS minb, CAST(max(vb) AS BIGINT) AS maxb
  FROM m
),
sc AS (
  SELECT event_id,
         {_z_scale_sql("ua", "mina", "maxa")} AS zx,
         {_z_scale_sql("vb", "minb", "maxb")} AS zy
  FROM m, st
)
SELECT event_id, zx, zy,
       CAST({_Z_INTERLEAVE} AS BIGINT) AS zval
FROM sc
"""


@register(
    "zorder_events",
    _ZORDER_SQL,
    "Z-order (Morton) data-clustering key over (user, value) — the "
    "lakehouse layout technique (Delta/Iceberg OPTIMIZE ZORDER): "
    "range-partition files by the interleaved key and scans filtered "
    "on EITHER dimension prune most files.  One stats pass (1-row "
    "min/max broadcast) + a map-only all-integer projection; the "
    "oracle replays the bit interleave exactly.",
)
def zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import anomaly, scale

    events = load(spark, sf_dir, "events")
    base = events.select(
        "event_id",
        F.col("user_id").cast("long").alias("ua"),
        anomaly.quantized(F.col("value")).alias("vb"),
    )
    return scale.zorder_frame(base, "ua", "vb", bits=_Z_BITS).select(
        "event_id", "zx", "zy", "zval")


_FILTERED_SQL = f"""
WITH allowed AS (
  SELECT doc_id AS vec_id FROM documents WHERE lang = 'en'
),
cv AS (
  SELECT vec_id, i,
         CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS c
  FROM (SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings WHERE {_VALID_EMB})
),
norms AS (SELECT vec_id, CAST(sum(c * c) AS BIGINT) AS n2
          FROM cv GROUP BY vec_id),
dots AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(sum(q.c * c.c) AS BIGINT) AS dot
  FROM cv q
  JOIN cv c ON c.i = q.i AND c.vec_id <> q.vec_id
  JOIN allowed a ON a.vec_id = c.vec_id
  WHERE q.vec_id IN ({', '.join(str(i) for i in _ANN_QUERY_IDS)})
  GROUP BY q.vec_id, c.vec_id
),
scored AS (
  SELECT d.query_id, d.neighbor_id,
         round(CASE WHEN na.n2 > 0 AND nb.n2 > 0
               THEN CAST(d.dot AS DOUBLE)
                    / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE)))
               ELSE 0.0 END, 6) AS cos
  FROM dots d
  JOIN norms na ON na.vec_id = d.query_id
  JOIN norms nb ON nb.vec_id = d.neighbor_id
)
SELECT query_id, neighbor_id, cos, rank FROM (
  SELECT query_id, neighbor_id, cos,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos DESC, neighbor_id) AS BIGINT)
           AS rank
  FROM scored
) WHERE rank <= 5
"""


@register(
    "ann_filtered_topk",
    _FILTERED_SQL,
    "Metadata-filtered vector search (the hybrid-search PRE-filter "
    "strategy): candidate neighbors are restricted to docs passing a "
    "metadata predicate (lang = 'en') BEFORE scoring, guaranteeing k "
    "eligible results where post-filtering an unfiltered top-k comes "
    "up short.  The filter is a LEFT SEMI equi-join on the id "
    "(broadcast when selective); the scoring shape is the verified "
    "exact cosine.",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    allowed = load(spark, sf_dir, "documents").filter(
        F.col("lang") == "en").select(F.col("doc_id").alias("vec_id"))
    return similarity.filtered_topk(
        _emb(spark, sf_dir), allowed, _ANN_QUERY_IDS, k=5
    )


def _norm_sql_expr() -> str:
    # the operator's own step table is the single source of truth —
    # the oracle replays textfns._NORM_STEPS verbatim
    expr = "text"
    for p, r in textfns._NORM_STEPS:
        # DuckDB single-quoted literals are backslash-verbatim: the
        # Python string's single backslashes pass straight to RE2
        re_ = r.replace("\n", "' || chr(10) || '")
        expr = f"regexp_replace({expr}, '{p}', '{re_}', 'g')"
    return f"trim({expr}, ' ' || chr(10))"


_NORMALIZE_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_raw,
       CAST(length(norm) AS BIGINT) AS n_chars_norm,
       md5(norm) AS norm_md5
FROM (SELECT doc_id, text, {_norm_sql_expr()} AS norm FROM documents)
"""


@register(
    "text_normalize",
    _NORMALIZE_SQL,
    "Canonical text normalization (the pre-hash cleanup stage): CRLF "
    "unification, control-char strip, whitespace-run collapse, "
    "paragraph-gap capping, character-set trim — dedup keys computed "
    "on unnormalized text silently miss byte-level-different "
    "duplicates.  One map-only regexp_replace chain fused into the "
    "scan; the oracle md5s every normalized document.",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = textfns.normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_raw"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.md5(norm).alias("norm_md5"),
    )
