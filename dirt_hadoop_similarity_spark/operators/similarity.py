"""Similarity search over embedding columns (array<float>).

Two regimes:

  * ``cosine_topk`` — exact brute-force top-k for a bounded query set:
    broadcast the queries, one pass over the corpus, per-query top-k via
    window rank. Scales linearly in corpus size × |queries| — the
    baseline and the verifier for the approximate path.
  * ``lsh_bucket_topk`` — sign-LSH bucketing: the bucket key is the sign
    pattern of the first ``bits`` coordinates (the simplest deterministic
    hyperplane family — axis-aligned planes). Candidates are compared
    only within their bucket, so the join is equi on the bucket key and
    corpus-size-independent per query. Recall is tunable via ``bits``
    (fewer bits → bigger buckets → higher recall/cost).

Dot products use native higher-order functions (``zip_with`` +
``aggregate``) — no Python in the hot path.  ``quantized`` variants do
the arithmetic on round(x*10^6) integers so results are bit-identical
across engines (the DuckDB oracle can verify values exactly — float
summation order never matters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

QUANT_SCALE = 1_000_000


def _quantize(col: Column) -> Column:
    """array<float> → array<long> of round(x * 1e6)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))


def _int_dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _int_norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def quantized_cosine(a: Column, b: Column, decimals: int = 6) -> Column:
    """Cosine similarity over quantized int vectors — deterministic to the
    bit across engines; rounded to ``decimals``.

    int64 envelope: per-element products are (x·1e6)², so the exact-sum
    contract needs |x| ≤ sqrt(int64max / dim) / 1e6 per element — ~47
    at dim 4096, ~95 at dim 1024.  Unit-normalized embeddings (the
    cosine convention; the testdata's are) sit 6+ orders inside it, and
    cosine is scale-invariant, so out-of-envelope callers should
    pre-normalize rather than widen the arithmetic — a per-element
    in-plan guard would tax the hot scoring path for a case
    normalization removes for free."""
    qa, qb = _quantize(a), _quantize(b)
    dot = _int_dot(qa, qb).cast("double")
    na = F.sqrt(_int_norm2(qa).cast("double"))
    nb = F.sqrt(_int_norm2(qb).cast("double"))
    return F.round(
        F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(0.0), decimals
    )


def _prescored_cos(dot: Column, na2: Column, nb2: Column,
                   decimals: int = 6) -> Column:
    """The rounded-cosine contract of :func:`quantized_cosine` over
    PRE-computed per-side int64 norms² and an exact int64 dot — the
    per-pair tail of the prescore pattern (see
    :func:`_exact_score_topk`): quantization and norms are per-VECTOR
    properties, so pair-scoring joins project them once per row before
    the join and leave only the dot product per pair.  Identical
    operation order (dot / (sqrt(na²)·sqrt(nb²)), 0.0 on a zero norm,
    HALF_UP round) keeps the doubles bit-identical to the unprescored
    expression and the DuckDB oracles."""
    d = dot.cast("double")
    na = F.sqrt(na2.cast("double"))
    nb = F.sqrt(nb2.cast("double"))
    return F.round(
        F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(0.0), decimals
    )


def valid_vectors(embeddings: DataFrame, dim: int,
                  vec_col: str = "embedding") -> DataFrame:
    """Index-admission gate: keep only rows whose vector is non-null
    and exactly ``dim`` wide — the contract every real ANN system
    declares at index creation.  NULL vectors (failed embedding jobs)
    and ragged ones (mixed model versions) otherwise poison scoring:
    zip_with pads the short side with nulls, the GEMM/IVF/PQ panel
    collects raise numpy inhomogeneous-shape errors, and DuckDB's
    list_inner_product refuses mismatched lengths outright (all three
    observed on the embeddings-null sweep corpus).  Apply to the
    vector relation BEFORE building or querying any index; the
    predicate is a plain scan-level filter, free at any scale."""
    return embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, neighbor_id, cos, rank).

    The query side is filtered then broadcast; the corpus side streams —
    at 100 TB this is one scan, no shuffle until the per-query top-k
    aggregation (cardinality |queries| × corpus partitions × k).
    """
    return _exact_score_topk(embeddings, embeddings, query_ids, k,
                             id_col, vec_col)


def _exact_score_topk(queries_src: DataFrame, corpus: DataFrame,
                      query_ids: list[int], k: int,
                      id_col: str, vec_col: str) -> DataFrame:
    """Shared exact-scoring tail of cosine_topk/filtered_topk: the
    query panel (from ``queries_src``) broadcasts against ``corpus``,
    self matches excluded, quantized cosine scored, per-query rank
    window — ONE definition of the scoring contract (tie-breaks, rank
    cast, zero-norm handling) for every exact-scorer variant.

    Each side PRE-computes its quantized vector and int64 norm² in a
    per-row projection BEFORE the pair join.  Scoring with
    :func:`quantized_cosine` inside the join re-ran quantization and
    both norms per PAIR — 4 extra O(dim) interpreted HOF passes per
    scored pair when each is a per-vector property (the shingle-fix
    lesson applied to vectors: HOFs sit outside codegen subexpression
    elimination).  Per pair only the dot product remains.  Measured at
    sf0.1 (2k × 64-dim corpus, 10-query panel): 3.51 s → 0.65 s,
    bit-identical output.  At N-vector corpus scale the old shape did
    |panel|× redundant corpus-side quantizations and norms.
    Same float contract as quantized_cosine: exact int64 dot and
    norms, ONE rounded double division per surviving pair."""
    pre_q = _quantize(F.col(vec_col))
    q = queries_src.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), pre_q.alias("q_qv")
    ).withColumn("q_n2", _int_norm2(F.col("q_qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), pre_q.alias("c_qv")
    ).withColumn("c_n2", _int_norm2(F.col("c_qv")))
    dot = _int_dot(F.col("q_qv"), F.col("c_qv")).cast("double")
    na = F.sqrt(F.col("q_n2").cast("double"))
    nb = F.sqrt(F.col("c_n2").cast("double"))
    cos = F.round(
        F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(0.0), 6
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def filtered_topk(
    embeddings: DataFrame,
    allowed: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Metadata-filtered exact vector search — the "hybrid search"
    PRE-filter strategy: the candidate corpus is restricted to ids in
    ``allowed`` (a 1-column id relation from any metadata predicate —
    language, license, quality tier, tenant) BEFORE scoring.
    Pre-filtering guarantees k eligible results where post-filtering an
    unfiltered top-k can come up short, and it prunes the scoring scan
    by the predicate's selectivity.  Queries need not be in ``allowed``
    (search from any vector, return only eligible neighbors); self
    matches are excluded.

    Scale: ``allowed`` restricts the corpus via a LEFT SEMI equi-join
    on the id (broadcast when selective, AQE's choice); the scoring
    shape is then :func:`cosine_topk`'s — query side broadcast, the
    filtered corpus streams once.  For large query panels compose the
    same semi-join with :func:`cosine_topk_gemm` instead.
    """
    cand = embeddings.join(
        allowed.select(F.col(allowed.columns[0]).alias(id_col)),
        id_col, "left_semi",
    )
    return _exact_score_topk(embeddings, cand, query_ids, k,
                             id_col, vec_col)


def cosine_topk_gemm(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k via blocked GEMM — same semantics
    and bit-identical values to :func:`cosine_topk`, different physical
    strategy: instead of exploding the dot product into per-element
    ``zip_with``/``aggregate`` expressions, each Arrow batch of the
    corpus is scored against the whole query panel with ONE int64
    matrix multiply inside ``mapInPandas``.

    Scale shape: the bounded query panel (SURVEY-S6 driver side-input,
    like the reference's in-RAM margins — DirtDriver.java's broadcast
    counterpart) ships once per task in the UDF closure; the corpus
    streams through in Arrow batches with no shuffle; each task emits at
    most |queries| × (k + ties) candidate rows, so the final rank window
    sees tasks × |queries| × k rows, never the corpus.  This is the
    preferred exact-scoring layout at 100 TB: compute stays in BLAS, the
    only shuffle is over the tiny candidate set.

    Bit-compatibility contract (what makes the shared oracle hash-match):
      * quantization is HALF_UP away-from-zero on the double x*1e6 —
        identical to ``F.round(...).cast("long")`` and DuckDB ``round``
        (exact for |x*1e6| ≤ ~1e15 since d+0.5 is representable);
      * dots/norms are exact int64; cosine is IEEE float64 in the same
        operation order as :func:`quantized_cosine`, so the doubles are
        bit-identical and the final Spark-side ``F.round(cos, 6)``
        agrees with the oracle's;
      * each batch keeps every candidate within 2.5e-6 of its k-th best
        unrounded score, so no row that could win after 1e-6 rounding
        (ties broken by neighbor_id) is dropped batch-locally.
    """
    import numpy as np

    q_rows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col), F.col(vec_col))
        .collect()
    )
    if not q_rows:
        # no query id matched (empty corpus, or ids absent from the
        # table — both legitimate under upstream filtering): the result
        # is empty by definition.  Without this guard the panel matrix
        # collapses to a 1-dim (0,) array and the axis-1 norm below
        # raises AxisError on the driver before any job runs.
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cos double, rank long"
        )

    def _quant_np(mat: "np.ndarray") -> "np.ndarray":
        # HALF_UP away-from-zero, matching F.round(...).cast("long") and
        # DuckDB round EXACTLY: compare the (exactly-representable, for
        # |d| < 2^52) fractional part against 0.5 instead of computing
        # floor(|d| + 0.5), whose addition can round up at values like
        # 0.49999999999999994 where the true fraction is below one half
        d = mat.astype(np.float64) * QUANT_SCALE
        a = np.abs(d)
        q = np.floor(a)
        return (np.sign(d) * (q + (a - q >= 0.5))).astype(np.int64)

    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = _quant_np(np.array([r[1] for r in q_rows], dtype=np.float64))
    qnorm = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
    margin = 2.5e-6

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            C = _quant_np(np.array(list(pdf[vec_col]), dtype=np.float64))
            dots = (Q @ C.T).astype(np.float64)
            cnorm = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            denom = qnorm[:, None] * cnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, dots / denom, 0.0)
            self_mask = qids[:, None] == ids[None, :]
            cos_sel = np.where(self_mask, -np.inf, cos)
            kk = min(k, cos_sel.shape[1])
            kth = -np.partition(-cos_sel, kk - 1, axis=1)[:, kk - 1]
            keep = (cos_sel >= (kth[:, None] - margin)) & ~self_mask
            qi, ci = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": qids[qi],
                    "neighbor_id": ids[ci],
                    "cos": cos[qi, ci],
                }
            )

    candidates = embeddings.select(id_col, vec_col).mapInPandas(
        score, "query_id long, neighbor_id long, cos double"
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("cos", F.round(F.col("cos"), 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def sign_bucket(vec: Column, bits: int = 8) -> Column:
    """Sign-LSH bucket id from the first ``bits`` coordinates.

    Unrolled sum of per-coordinate powers of two (bits is small and
    static) — shift amounts must be Python ints in Spark."""
    bucket = sum(
        F.when(F.get(vec, i) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(bits)
    )
    return bucket.cast("long")


def lsh_bucket_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket. Same output shape as :func:`cosine_topk` (ranks computed
    within the bucket).

    Prescore placement (the :func:`_exact_score_topk` shape, adapted to
    a SELECTIVE candidate join): the broadcast query panel pre-computes
    (quantized array, int64 norm²) per row, but the corpus side defers
    its quantization to AFTER the bucket join — the join keeps only
    rows in a probed bucket (|queries|/2^bits of the corpus), and
    sign buckets come from raw float signs, so quantizing every corpus
    row up front would be work the join throws away.  Post-join the
    survivors' (qv, n2) are projected ONCE per candidate row (a
    separate Project — CollapseProject keeps multiply-referenced
    non-cheap aliases unmerged), leaving only the exact int64 dot per
    pair; same rounded-double contract."""
    with_bucket = embeddings.select(
        F.col(id_col), F.col(vec_col),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    )
    q = with_bucket.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        _quantize(F.col(vec_col)).alias("q_qv"),
        "bucket",
    ).withColumn("q_n2", _int_norm2(F.col("q_qv")))
    c = with_bucket.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        "bucket",
    )
    cos = _prescored_cos(
        _int_dot(F.col("q_qv"), F.col("c_qv")),
        F.col("q_n2"), F.col("c_n2"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("c_qv", _quantize(F.col("cvec")))
        .withColumn("c_n2", _int_norm2(F.col("c_qv")))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def random_hyperplanes(
    dim: int, bits: int, seed: str = "rh"
) -> list[list[int]]:
    """Deterministic pseudo-random hyperplane family: per-plane int16
    weights derived from md5(seed:plane:component).

    Axis-sign planes (``sign_bucket``) are the weakest possible family —
    each bit looks at a single coordinate, so correlated dimensions give
    unbalanced buckets.  These planes mix ALL coordinates per bit (the
    classic SRP construction), and because the weights are integers
    derived from a pinned digest, the exact same constants can be
    embedded in a DuckDB oracle: the bucketing is reproducible
    cross-engine with pure integer arithmetic.
    """
    import hashlib

    return [
        [
            int(hashlib.md5(f"{seed}:{j}:{i}".encode()).hexdigest()[:4], 16)
            - 32768
            for i in range(dim)
        ]
        for j in range(bits)
    ]


def hyperplane_bucket_q(qvec: Column, planes: list[list[int]]) -> Column:
    """SRP bucket id over an ALREADY-quantized int array: bit j =
    sign(plane_j · qvec), all-long arithmetic, so bit-exact in any
    engine.  Callers that project the quantized vector anyway (the
    prescore pattern) pass the column reference so the O(dim)
    quantization HOF runs once per row, not once per plane (HOFs sit
    outside codegen subexpression elimination, so each embedded
    ``_quantize`` subtree re-evaluates)."""
    terms = []
    for j, plane in enumerate(planes):
        pl = F.array(*[F.lit(w).cast("long") for w in plane])
        terms.append(
            F.when(_int_dot(qvec, pl) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        )
    return sum(terms).cast("long")


def rh_bucket_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    bits: int = 8,
    dim: int = 64,
    seed: str = "rh",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with signed-random-projection buckets — same
    shape and join strategy as :func:`lsh_bucket_topk` (bucket equi-join,
    query side broadcast), stronger hash family.

    Prescored like :func:`lsh_bucket_topk`; the SRP bucket bits are
    computed from the SAME projected quantized array
    (:func:`hyperplane_bucket_q`), so the per-row cost is one
    quantization + ``bits`` plane dots + one norm, where the naive
    shape re-quantized per plane AND per scored pair."""
    planes = random_hyperplanes(dim, bits, seed)
    with_bucket = embeddings.select(
        F.col(id_col), _quantize(F.col(vec_col)).alias("qv")
    ).select(
        F.col(id_col),
        F.col("qv"),
        hyperplane_bucket_q(F.col("qv"), planes).alias("bucket"),
        _int_norm2(F.col("qv")).alias("n2"),
    )
    q = with_bucket.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("qv").alias("q_qv"),
        F.col("n2").alias("q_n2"), "bucket",
    )
    c = with_bucket.select(
        F.col(id_col).alias("neighbor_id"), F.col("qv").alias("c_qv"),
        F.col("n2").alias("c_n2"), "bucket",
    )
    cos = _prescored_cos(
        _int_dot(F.col("q_qv"), F.col("c_qv")),
        F.col("q_n2"), F.col("c_n2"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def assign_cells_gemm(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    panel=None,
) -> DataFrame:
    """IVF assignment via blocked GEMM — each vector to its max-cosine
    centroid (``cell``, ties to the lowest cell): the (bounded,
    SURVEY-S6) centroid panel is collected into the UDF closure and
    each Arrow batch of the corpus scores against it with ONE int64
    matmul, instead of a crossJoin expanding |corpus| × |centroids|
    rows of interpreted ``zip_with``/``aggregate`` expressions.

    At 100 TB this is the index-build layout: the corpus streams
    through ``mapInPandas`` with NO shuffle and NO row blow-up (the
    crossJoin plan materializes k rows per vector before the argmax
    window; this emits exactly one), and compute stays in BLAS.

    Bit-compatibility contract (same rigor as :func:`cosine_topk_gemm`):
    quantization is the exact-HALF_UP `_quant_np` rule; dots/norms are
    exact int64; the cosine double is formed in
    :func:`quantized_cosine`'s operation order (dot / (sqrt(na) *
    sqrt(nb)), 0.0 when either norm is 0); and the 6-dp round is
    ``decimal``-exact BigDecimal HALF_UP — Spark's ``F.round(c, 6)``
    to the bit — so the argmax (max ccos, ties to the LOWEST cell)
    reproduces the window plan's tie structure exactly.

    ``panel``: optional precollected ``_collect_centroids`` result —
    callers making several assignment passes against the same centroids
    (ivfpq_build) collect the panel once instead of one job per call.
    """
    cells, CB = panel if panel is not None else _collect_centroids(centroids)

    # passthrough vector keeps the INPUT's element type: declaring it
    # array<float> unconditionally silently narrowed an array<double>
    # corpus, so a value near a quantization boundary could flip between
    # this path and plans that quantize the original column (ADVICE r14
    # — semantic_dedup's centroids mode vs its sign-grid mode)
    elem = vectors.schema[vec_col].dataType.elementType.simpleString()
    out_schema = f"{id_col} long, {vec_col} array<{elem}>, cell long"

    def assign(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _gemm_quant_np(np.array(list(pdf[vec_col]), dtype=np.float64))
            best = _assign_np(V, CB)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    vec_col: pdf[vec_col],
                    "cell": cells[best],
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(assign, out_schema)


def _collect_centroids(centroids: DataFrame):
    """(cells int64 ascending, quantized centroid matrix in that order) —
    the bounded SURVEY-S6 panel collect the GEMM paths ship in their
    UDF closures."""
    import numpy as np

    c_rows = centroids.select("cell", "cvec").collect()
    cells = np.array([r["cell"] for r in c_rows], dtype=np.int64)
    order = np.argsort(cells, kind="stable")
    cells = cells[order]
    CB = _gemm_quant_np(
        np.array([c_rows[i]["cvec"] for i in order], dtype=np.float64)
    )
    return cells, CB


def _assign_np(V, CB):
    """Column index of each row's max ROUNDED cosine against the
    (cell-ascending) quantized centroid matrix, ties to the lowest cell:
    np.argmax takes the FIRST max, and columns are sorted by cell
    ascending."""
    import numpy as np

    cbnorm = np.sqrt((CB * CB).sum(axis=1).astype(np.float64))
    dots = (V @ CB.T).astype(np.float64)
    vnorm = np.sqrt((V * V).sum(axis=1).astype(np.float64))
    denom = vnorm[:, None] * cbnorm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom > 0, dots / denom, 0.0)
    return np.argmax(_round6_np(cos), axis=1)


def _gemm_quant_np(mat):
    """Exact-HALF_UP quantization (see cosine_topk_gemm's contract)."""
    import numpy as np

    d = mat.astype(np.float64) * QUANT_SCALE
    a = np.abs(d)
    q = np.floor(a)
    return (np.sign(d) * (q + (a - q >= 0.5))).astype(np.int64)


def _round6_np(arr):
    """Element-wise HALF_UP round to 6 decimals matching Spark's
    ``F.round(col, 6)`` — which is ``BigDecimal.valueOf(double)``:
    HALF_UP over the SHORTEST-round-trip decimal string
    (Double.toString), NOT the exact binary expansion (e.g. the double
    nearest 0.1234565 is 0.12345649999…, but Spark rounds its shortest
    repr "0.1234565" up to 0.123457).  Python ``repr`` has the same
    shortest-round-trip property, so Decimal(repr(x)) reproduces it.
    (Residual caveat, same spirit as cosine_topk_gemm's margin: JDK
    < 19 Double.toString can emit a longer-than-minimal string in rare
    cases; a divergence needs those extra digits to straddle a .5
    boundary at the 6th decimal — not observed across the full
    embeddings table, and pytest pins known boundary values.)
    Bounded inputs only (cosines: |x| ≤ 1) — a few tens of thousands of
    Decimal quantizations per Arrow batch, negligible next to the GEMM.
    """
    import decimal
    import numpy as np

    exp = decimal.Decimal("1e-6")
    flat = arr.ravel()
    out = np.empty_like(flat)
    for i, x in enumerate(flat):
        out[i] = float(
            decimal.Decimal(repr(float(x))).quantize(
                exp, rounding=decimal.ROUND_HALF_UP
            )
        )
    return out.reshape(arr.shape)


def seed_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seeds: the first ``n_centroids`` vectors by
    id.  The testable stand-in for a trained codebook — swap in any
    external trainer's (cell, cvec) table at scale; the IVF search path
    is identical either way."""
    return embeddings.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("cvec")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors live in centroid cells;
    a query probes its ``nprobe`` closest cells and scores only those
    vectors.  The other scale path next to LSH bucketing — candidate
    volume is (corpus / n_centroids) × nprobe per query, tunable
    independently of the hash-family geometry.

    Defaults to :func:`seed_centroids` (deterministic, oracle-friendly);
    pass ``centroids`` (cell, cvec) for a trained codebook.
    """
    cent, assigned = ivf_build(
        embeddings, n_centroids=n_centroids, centroids=centroids,
        id_col=id_col, vec_col=vec_col,
    )
    return ivf_search(
        embeddings, cent, assigned, query_ids, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )


def ivf_build(
    embeddings: DataFrame,
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable IVF-flat index pair:

      * ``centroids`` (cell, cvec) — the coarse quantizer;
      * ``assigned`` (id, vec, cell) — the corpus with its cell
        routing, the flat-index analogue of :func:`ivfpq_build`'s codes
        (raw vectors stay because flat IVF scores them exactly).

    Write both as parquet (``assigned`` partitioned by ``cell`` so a
    probe prunes partitions); :func:`ivf_search` then serves any number
    of query batches without re-assigning the corpus — the build's one
    GEMM pass is paid once, not per query batch.  pytest pins that the
    split-and-persisted path is row-identical to :func:`ivf_topk`."""
    cent = centroids if centroids is not None else seed_centroids(
        embeddings, n_centroids, id_col, vec_col
    )
    # corpus-side assignment on the GEMM engine (row-identical to the
    # crossJoin+window plan; the corpus streams, no row blow-up)
    assigned = assign_cells_gemm(embeddings, cent, id_col, vec_col)
    return cent, assigned


def ivf_search(
    embeddings: DataFrame,
    centroids: DataFrame,
    assigned: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve IVF-flat queries against a built (or parquet-loaded) index:
    rank the coarse cells per query, then score only the ``assigned``
    rows in probed cells.  ``embeddings`` is read solely to fetch the
    query vectors (a bounded ``isin`` lookup)."""
    cent = centroids
    # prescore (the _exact_score_topk shape): quantized array + int64
    # norm² are per-VECTOR properties projected once per row — scoring
    # with quantized_cosine inside the probe/candidate joins re-ran
    # them per PAIR.  Per pair only the exact int64 dot remains.
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        _quantize(F.col(vec_col)).alias("q_qv"),
    ).withColumn("q_n2", _int_norm2(F.col("q_qv")))
    centq = cent.select(
        "cell", _quantize(F.col("cvec")).alias("ct_qv")
    ).withColumn("ct_n2", _int_norm2(F.col("ct_qv")))
    ccos = _prescored_cos(
        _int_dot(F.col("q_qv"), F.col("ct_qv")),
        F.col("q_n2"), F.col("ct_n2"),
    )
    q_scored = q.crossJoin(F.broadcast(centq)).select(
        "query_id", "q_qv", "q_n2", "cell", ccos.alias("ccos"),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "q_qv", "q_n2", "cell")
    )

    # corpus-side quantization is deferred to AFTER the probe join: the
    # join keeps only vectors in a probed cell (~nprobe/n_centroids of
    # the corpus), so quantizing every row up front is work the join
    # throws away; post-join the survivors' (qv, n2) are projected once
    # per candidate row, leaving only the exact int64 dot per pair
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec"),
        "cell",
    )
    cos = _prescored_cos(
        _int_dot(F.col("q_qv"), F.col("c_qv")),
        F.col("q_n2"), F.col("c_n2"),
    )
    scored = (
        c.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("c_qv", _quantize(F.col("cvec")))
        .withColumn("c_n2", _int_norm2(F.col("c_qv")))
        .select("query_id", "neighbor_id", cos.alias("cos"))
        # no distinct needed: assignment puts each neighbor in exactly ONE
        # cell, so the cell join yields ≤1 row per (query, neighbor)
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs (cos ≥ threshold) via sign-LSH
    blocking: bucket equi-join, then exact cosine on candidates only.

    Quantized array + int64 norm² are pre-computed per VECTOR before
    the bucket self-join (the _exact_score_topk prescore shape): a
    bucket of d vectors contributes d·(d−1)/2 candidate pairs, so
    scoring with quantized_cosine inside the join re-ran both sides'
    quantization and norms ~d times each.  Per pair only the exact
    int64 dot remains; same rounded-double contract as
    quantized_cosine."""
    with_bucket = embeddings.select(
        F.col(id_col),
        _quantize(F.col(vec_col)).alias("qv"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"),
    ).withColumn("n2", _int_norm2(F.col("qv")))
    a = with_bucket.select(
        F.col(id_col).alias("id_a"), F.col("qv").alias("qa"),
        F.col("n2").alias("na2"), "bucket",
    )
    b = with_bucket.select(
        F.col(id_col).alias("id_b"), F.col("qv").alias("qb"),
        F.col("n2").alias("nb2"), "bucket",
    )
    dot = _int_dot(F.col("qa"), F.col("qb")).cast("double")
    na = F.sqrt(F.col("na2").cast("double"))
    nb = F.sqrt(F.col("nb2").cast("double"))
    cos = F.round(
        F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(0.0), 6
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def _int_slices(vec: Column, m: int, dsub: int) -> Column:
    """array<long>[m*dsub] → array of m int subvectors (no requantize)."""
    return F.array(*[F.slice(vec, j * dsub + 1, dsub) for j in range(m)])


def ivfpq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    dsub: int = 8,
    ksub: int = 16,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ approximate top-k — the composed FAISS-style index
    (Jegou et al. 2011 §IV, IVFADC): a coarse quantizer routes each
    vector to a cell, PQ encodes the RESIDUAL (vector − its centroid),
    and search probes ``nprobe`` cells scoring codes against a
    per-(query, cell) residual lookup table.  Residuals concentrate the
    energy PQ must quantize, so the same code budget is far more
    accurate than PQ over raw vectors — this is the index shape that
    actually ships at 100 TB scale: the persisted relation is
    (id, cell, m codes), 25-50× smaller than raw vectors, partitionable
    by cell so a probe prunes partitions.

    All arithmetic is quantized-int: residual = quantize(x) −
    quantize(centroid) is exact integer subtraction, sub-distances are
    exact integer squared-L2, and ``adc_d2`` is their sum — bit-exact
    across engines, so the DuckDB oracle checks distances, not counts.
    Deterministic seeds (coarse: first ``n_centroids`` vectors; PQ: the
    residuals of vectors [n_centroids, n_centroids+ksub) — offset past
    the coarse seeds, whose own residuals are zero); ``train_iters`` > 0
    runs Lloyd's over the residual subvectors to refine the PQ codebook
    (the FAISS default; measured on the synthetic embeddings it lifts
    recall@5 0.20 -> 0.32 at sf0.001 — the remaining gap is code
    RESOLUTION, not codebook quality: 32-bit codes on near-uniform
    unit vectors, where exact-L2 reproduces exact-cosine at recall 1.0.
    The registered oracle query stays seeded because the oracle must
    replay the exact arithmetic, and Lloyd's in SQL would be the whole
    loop unrolled).  Trained residual PQ beats raw-vector PQ at equal
    bits at both SFs (0.32 vs 0.22 at sf0.001, 0.28 vs 0.16 seeded at
    sf0.01) — the residual story works once the codebook is trained;
    seeded-vs-raw is data-dependent at this resolution.

    Output: (query_id, neighbor_id, adc_d2, rank) — rank by ascending
    approximate squared distance, only neighbors in probed cells.

    This is the build+search COMPOSITION (what the oracle replays);
    deployments call :func:`ivfpq_build` once, persist the triple, and
    serve queries with :func:`ivfpq_search` — pytest pins that the
    split-and-persisted path is row-identical to this function.
    """
    cent, rcb, codes = ivfpq_build(
        embeddings, n_centroids=n_centroids, m=m, dsub=dsub, ksub=ksub,
        train_iters=train_iters, id_col=id_col, vec_col=vec_col,
    )
    return ivfpq_search(
        embeddings, cent, rcb, codes, query_ids, k=k, nprobe=nprobe,
        m=m, dsub=dsub, id_col=id_col, vec_col=vec_col,
    )


def ivfpq_build(
    embeddings: DataFrame,
    n_centroids: int = 16,
    m: int = 8,
    dsub: int = 8,
    ksub: int = 16,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the persistable IVF-PQ index triple:

      * ``centroids`` (cell, cvec) — the coarse quantizer, n_centroids rows;
      * ``codebooks`` (code, sub, cbvec) — the residual PQ codebook,
        ksub × m rows;
      * ``codes`` (id, cell, sub, code) — the encoded corpus, m rows per
        vector and 25-50× smaller than the raw vectors.

    Write all three as parquet (codes partitioned/bucketed by ``cell``
    so a probe prunes partitions); :func:`ivfpq_search` then serves any
    number of query batches without touching raw corpus vectors.
    """
    cent = seed_centroids(embeddings, n_centroids, id_col, vec_col)
    # ONE panel collect serves every assignment pass below (seed rsubs,
    # optional Lloyd rsubs, and the fused encode)
    panel = _collect_centroids(cent)
    cells, CB = panel

    def _rsubs(rows_df: DataFrame) -> DataFrame:
        """(id, cell, sub, svec): per-subspace exact-int residual slices
        of the GEMM-assigned input (bit-identical to the former
        crossJoin+window pipeline; see assign_cells_gemm)."""
        residual = F.zip_with(
            _quantize(F.col(vec_col)), _quantize(F.col("cvec")),
            lambda x, c: x - c,
        )
        return (
            assign_cells_gemm(rows_df, cent, id_col, vec_col, panel=panel)
            .join(F.broadcast(cent), "cell")
            .select(F.col(id_col), "cell", residual.alias("rvec"))
            .select(
                F.col(id_col), "cell",
                F.posexplode(_int_slices(F.col("rvec"), m, dsub))
                .alias("sub", "svec"),
            )
        )

    # codebook seed: residual slices of vectors [n_centroids,
    # n_centroids+ksub) — a ksub-row relation, so seed (and Lloyd's
    # below, whose per-round shuffle is m×ksub×dsub) never touch the
    # corpus; the corpus is read ONCE, by the fused encode pass
    rcb = _rsubs(
        embeddings.filter(
            (F.col(id_col) >= n_centroids)
            & (F.col(id_col) < n_centroids + ksub)
        )
    ).select(
        (F.col(id_col) - n_centroids).alias("code"),
        "sub",
        F.col("svec").alias("cvec"),
    )
    lloyd_rsubs = None
    if train_iters > 0:
        lloyd_rsubs = _rsubs(embeddings).select(id_col, "sub", "svec").cache()
        rcb = _lloyd_subspaces(lloyd_rsubs, rcb, train_iters, id_col)
    rcb = rcb.select("code", "sub", F.col("cvec").alias("cbvec"))

    # fused assign+residual+encode: ONE corpus pass, map-only (no
    # shuffle at any scale — the index build's 100 TB shape).  All
    # arithmetic past the assignment argmax is exact int64 (residual
    # subtraction, squared-L2, argmin with lowest-code ties), so
    # bit-compatibility needs no rounding contract at all here.
    cb_rows = rcb.collect()  # m × ksub — bounded panel
    if lloyd_rsubs is not None:
        # sever the returned codebook's lineage from the training path:
        # rebuilt from the collected rows, rcb no longer references the
        # corpus-sized residual relation, so the cache can be released
        # without downstream actions re-running train_iters corpus
        # passes (the lazy Lloyd DF would otherwise recompute per
        # consumer once unpersisted)
        rcb = embeddings.sparkSession.createDataFrame(
            [(r["code"], r["sub"], list(r["cbvec"])) for r in cb_rows],
            "code long, sub int, cbvec array<long>",
        )
        lloyd_rsubs.unpersist()
    import numpy as np

    SUBS = sorted({r["sub"] for r in cb_rows})
    CODES = {
        s: np.array(
            [r["code"] for r in sorted(
                (r for r in cb_rows if r["sub"] == s), key=lambda r: r["code"]
            )],
            dtype=np.int64,
        )
        for s in SUBS
    }
    CBOOK = {
        s: np.array(
            [r["cbvec"] for r in sorted(
                (r for r in cb_rows if r["sub"] == s), key=lambda r: r["code"]
            )],
            dtype=np.int64,
        )
        for s in SUBS
    }

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            V = _gemm_quant_np(np.array(list(pdf[vec_col]), dtype=np.float64))
            best = _assign_np(V, CB)
            R = V - CB[best]  # exact int residuals
            frames = []
            for s in SUBS:
                Rs = R[:, s * dsub:(s + 1) * dsub]
                # exact int64 squared-L2 to every codebook entry
                diff = Rs[:, None, :] - CBOOK[s][None, :, :]
                d2 = (diff * diff).sum(axis=2)
                pick = np.argmin(d2, axis=1)  # first min = lowest code
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: ids,
                            "cell": cells[best],
                            "sub": np.full(len(ids), s, dtype=np.int32),
                            "code": CODES[s][pick],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    codes = embeddings.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, cell long, sub int, code long"
    )
    return cent, rcb, codes


def ivfpq_search(
    embeddings: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    codes: DataFrame,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    m: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Serve IVF-PQ queries against a built (or parquet-loaded) index:
    rank the coarse cells per query, build the per-(query, probed cell)
    residual lookup table (nprobe × m × ksub rows, broadcast), and join
    it against the code index — the only corpus-sized relation touched
    is ``codes``, and only its probed cells.  ``embeddings`` is read
    solely to fetch the query vectors (a bounded ``isin`` lookup)."""
    cent, rcb = centroids, codebooks
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    q_scored = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qvec", "cell",
        quantized_cosine(F.col("qvec"), F.col("cvec")).alias("ccos"),
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("cell"))
    probes = (
        q_scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= nprobe)
        .select("query_id", "qvec", "cell")
    )
    q_residual = F.zip_with(
        _quantize(F.col("qvec")), _quantize(F.col("cvec")),
        lambda x, c: x - c,
    )
    lut = (
        probes.join(F.broadcast(cent), "cell")
        .select("query_id", "cell", q_residual.alias("rvec"))
        .select(
            "query_id", "cell",
            F.posexplode(_int_slices(F.col("rvec"), m, dsub))
            .alias("sub", "qsvec"),
        )
        .join(F.broadcast(rcb), "sub")
        .select(
            "query_id", "cell", "sub", "code",
            _int_d2(F.col("qsvec"), F.col("cbvec")).alias("d2"),
        )
    )

    scored = (
        codes.join(F.broadcast(lut), ["cell", "sub", "code"])
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def ivfpq_rerank_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    rerank: int = 20,
    n_centroids: int = 16,
    nprobe: int = 2,
    m: int = 8,
    dsub: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN serving — the pattern production vector search
    actually ships (FAISS IVFADC+refine): stage 1 shortlists ``rerank``
    candidates per query by approximate ADC distance over the compact
    code index; stage 2 re-scores ONLY the shortlist with the exact
    quantized cosine and returns the top ``k``.  Recovers most of the
    recall the lossy codes give up, at the cost of |queries| × rerank
    exact scorings instead of |corpus|.

    Scale: stage 1 touches codes only (25-50× smaller than vectors,
    cell-prunable); stage 2's raw-vector reads are a broadcast
    candidate-list semi-fetch against the corpus — the corpus streams
    once, nothing corpus-sized shuffles, and the exact scoring set is
    query-bounded.  The shortlist is deterministic (ADC rank totally
    ordered by (adc_d2, neighbor_id)), so the whole composition is
    oracle-checkable.

    Output: (query_id, neighbor_id, cos, rank) — rank by exact cosine
    desc within the shortlist, ties by neighbor id.
    """
    cand = ivfpq_topk(
        embeddings, query_ids, k=rerank, n_centroids=n_centroids,
        nprobe=nprobe, m=m, dsub=dsub, ksub=ksub,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    # prescore both sides before the (bounded) shortlist joins — the
    # _exact_score_topk shape; per pair only the exact int64 dot runs
    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        _quantize(F.col(vec_col)).alias("q_qv"),
    ).withColumn("q_n2", _int_norm2(F.col("q_qv")))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _quantize(F.col(vec_col)).alias("c_qv"),
    ).withColumn("c_n2", _int_norm2(F.col("c_qv")))
    cos = _prescored_cos(
        _int_dot(F.col("q_qv"), F.col("c_qv")),
        F.col("q_n2"), F.col("c_n2"),
    )
    scored = (
        c.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    skip: int = 2,
    take: int = 10,
    max_cos: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "gemm",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the neighbors ranked just BELOW the top (rank in (skip, skip+take])
    with cosine at most ``max_cos`` — similar enough to be informative
    negatives, but past the top ranks and the near-dup ceiling where
    "negatives" are usually unlabeled positives (the standard
    denoised-mining recipe, e.g. Qu et al. 2021, RocketQA §4.2).

    Ranks come from the full cosine ordering; the ``max_cos`` cut is
    applied after ranking, so a filtered-out near-dup still occupies its
    rank — mining never promotes deeper neighbors into the skipped band.
    Same output shape as :func:`cosine_topk`.

    ``engine`` picks the exact scorer: ``"gemm"`` (default —
    :func:`cosine_topk_gemm`, the BLAS-side 100 TB layout) or ``"hof"``
    (:func:`cosine_topk`, the oracle-shaped higher-order-function plan;
    bit-identical values, ~6× slower).
    """
    if skip < 0 or take < 1:
        raise ValueError(f"need skip >= 0 and take >= 1, got {skip}, {take}")
    if engine not in ("gemm", "hof"):
        raise ValueError(f"engine must be 'gemm' or 'hof', got {engine!r}")
    scorer = cosine_topk_gemm if engine == "gemm" else cosine_topk
    ranked = scorer(
        embeddings, query_ids, k=skip + take, id_col=id_col, vec_col=vec_col
    )
    return ranked.filter(
        (F.col("rank") > skip) & (F.col("cos") <= max_cos)
    )


def semantic_dedup_auto_bits(
    n_rows: int, target_cell_rows: int = 2000,
    lo: int = 4, hi: int = 24,
) -> int:
    """Occupancy-scaled sign-LSH width for :func:`semantic_dedup`: the
    smallest ``bits`` whose uniform-occupancy estimate ``n / 2^bits``
    is ≤ ``target_cell_rows``, clamped to [lo, hi].

    Why this exists (VERDICT r13): the cell self-join is quadratic in
    cell OCCUPANCY, so a FIXED grid at growing corpus size degrades
    quadratically (measured 78.9× candidate volume at 100× rows under
    constant 8 bits).  Scaling bits with ~log2(n) pins expected
    occupancy, so candidate volume — and time — grows ~linearly with
    the corpus.  ``hi`` is capped well under the embedding dim: sign
    bits beyond the informative coordinates stop splitting anything.
    """
    bits = lo
    while bits < hi and (n_rows >> bits) > target_cell_rows:
        bits += 1
    return bits


#: default expected cell occupancy for the occupancy-scaled cell modes —
#: the knob that keeps the cell self-join's pair volume ~linear in the
#: corpus (measured r14: fixed 8-bit grid 72.3× time at 100× rows vs
#: 8.2× for target-occupancy scaling)
DEFAULT_TARGET_CELL_ROWS = 2000


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.7,
    bits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    target_cell_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus, then inside each cluster keep
    one representative from every group of semantically-near vectors and
    mark the rest as semantic duplicates.

    Deterministic rendering: the "cluster" is the sign-LSH cell (the
    same axis-plane family as :func:`lsh_bucket_topk`; pass trained
    ``centroids`` for IVF cells instead), and a vector
    is DROPPED iff a lower-id vector in its cell has cosine ≥
    ``threshold``.  Lowest id wins — the paper keeps an arbitrary member
    per ε-ball; pinning it to the id order makes reruns (and the oracle)
    agree.  Single-pass by construction: a vector is compared against
    ALL lower ids in its cell, not only surviving ones — the chained
    variant (A~B~C with A≁C keeps A and C) is
    ``dedup.cluster_keepers`` over connected components.

    Scale: candidate generation is the cell equi-join of
    :func:`embedding_near_duplicates` — pair volume is bounded by real
    semantic density per cell, never all-pairs.  The keep decision is a
    per-id min-aggregate plus a left join back to the corpus: keyed
    shuffles of (id, id, cos) rows only, no vector payloads.

    Output: (vec_id, cell, kept, dup_of, cos); dup_of/cos are NULL for
    kept vectors, else the keeper id and the cosine to it.

    Cell modes — the scale knob (the self-join is quadratic in cell
    OCCUPANCY, so the cell partition must grow with the corpus):

    * DEFAULT (no knob passed): occupancy-scaled sign grid at
      ``DEFAULT_TARGET_CELL_ROWS`` expected rows per cell — one cheap
      count() pass picks ``bits`` via :func:`semantic_dedup_auto_bits`,
      so the naive call is scale-safe (VERDICT r14: the fixed-grid
      default was the engine's last ship-blocker at 100 TB — measured
      72.3× time at 100× rows vs 8.2× occupancy-scaled).
    * explicit ``bits``: fixed sign grid — the deterministic,
      plan-stable small-scale mode the registered oracle queries pin
      (no count() job, fingerprint-identical plans).  At a fixed grid,
      pair volume grows QUADRATICALLY with the corpus (measured 78.9×
      candidates at 100× rows on 8 bits).  Do not ship this at 100 TB.
    * ``target_cell_rows``: occupancy-scaled grid with an explicit
      occupancy target (the default mode's knob spelled out).
    * ``centroids`` (cell long, cvec array<float>): trained clustering
      (e.g. :func:`seed_centroids` or an external trainer) — cells are
      assigned by max-cosine GEMM (:func:`assign_cells_gemm`, one
      streaming corpus pass, no shuffle), matching the SemDeDup paper's
      k-means clustering.  Mutually exclusive with the grid knobs.
    """
    if sum(x is not None for x in (centroids, target_cell_rows, bits)) > 1:
        raise ValueError(
            "pass at most one of centroids / target_cell_rows / bits")
    if centroids is None and bits is None and target_cell_rows is None:
        target_cell_rows = DEFAULT_TARGET_CELL_ROWS  # scale-safe default
    # prescored per-vector (quantized array + int64 norm² before the
    # cell self-join — the embedding_near_duplicates shape): a cell of
    # d vectors contributes d·(d−1)/2 pairs, so in-join quantized_cosine
    # re-ran each side's quantization and norms ~d times
    if centroids is not None:
        with_cell = assign_cells_gemm(
            embeddings, centroids, id_col, vec_col
        ).select(
            F.col(id_col), _quantize(F.col(vec_col)).alias("qv"), "cell"
        )
    else:
        if target_cell_rows is not None:
            bits = semantic_dedup_auto_bits(
                embeddings.count(), target_cell_rows)
        with_cell = embeddings.select(
            F.col(id_col),
            _quantize(F.col(vec_col)).alias("qv"),
            sign_bucket(F.col(vec_col), bits).alias("cell"),
        )
    with_cell = with_cell.withColumn("n2", _int_norm2(F.col("qv")))
    a = with_cell.select(
        F.col(id_col).alias("id_a"), F.col("qv").alias("qa"),
        F.col("n2").alias("na2"), "cell",
    )
    b = with_cell.select(
        F.col(id_col).alias("id_b"), F.col("qv").alias("qb"),
        F.col("n2").alias("nb2"), "cell",
    )
    pcos = _prescored_cos(
        _int_dot(F.col("qa"), F.col("qb")), F.col("na2"), F.col("nb2")
    )
    matches = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", "id_a", pcos.alias("pcos"))
        .filter(F.col("pcos") >= threshold)
        .groupBy("id_b")
        .agg(
            F.min("id_a").alias("dup_of"),
            # cosine to the keeper: id_a is unique per group, so min_by
            # is deterministic (and portable — DuckDB has the same agg)
            F.expr("min_by(pcos, id_a)").alias("cos"),
        )
    )
    return (
        with_cell.join(
            matches, with_cell[id_col] == matches["id_b"], "left"
        )
        .select(
            F.col(id_col),
            F.col("cell"),
            F.col("dup_of").isNull().alias("kept"),
            F.col("dup_of"),
            F.col("cos"),
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ): compressed codes + asymmetric distance search
# ---------------------------------------------------------------------------
#
# The storage half of the ANN-at-scale story: a D-dim float vector (256 B
# at D=64) becomes m one-byte codes (8 B at m=8) — the corpus index fits
# in a fraction of the memory/IO, and search scores CODES against a tiny
# per-query lookup table (ADC: asymmetric distance computation) instead
# of touching raw vectors.  Jegou, Douze, Schmid, "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011.
#
# All distances are squared-L2 over quantized ints (round(x*1e6)) so
# encode/search are bit-exact across engines — the DuckDB oracle checks
# codes AND distances, not just counts.


def _int_d2(a: Column, b: Column) -> Column:
    """Exact squared L2 distance between two quantized int arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def subvector_split(vec: Column, m: int, dsub: int) -> Column:
    """array<float>[m*dsub] → array of m quantized int subvectors."""
    return F.array(
        *[_quantize(F.slice(vec, j * dsub + 1, dsub)) for j in range(m)]
    )


def pq_seed_codebooks(embeddings: DataFrame, m: int = 8, dsub: int = 8,
                      ksub: int = 16, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Deterministic per-subspace codebooks: centroid ``code`` of
    subspace ``sub`` is the sub-th slice of the code-th vector by id —
    (sub, code, cvec array<long>), m × ksub rows.  The oracle-friendly
    stand-in for a trained codebook (swap in a trained one at scale;
    the encode/search path is identical)."""
    subs = subvector_split(F.col(vec_col), m, dsub)
    return (
        embeddings.filter(F.col(id_col) < ksub)
        .select(F.col(id_col).alias("code"), F.posexplode(subs).alias("sub", "cvec"))
        .select("sub", "code", "cvec")
    )


def _lloyd_assign_np(subs: DataFrame, cb_rows, id_col: str) -> DataFrame:
    """The Lloyd assignment step as a blocked numpy argmin — the
    :func:`assign_cells_gemm` treatment applied to the per-subspace
    codebook: the (bounded, m × ksub) codebook panel is collected into
    the UDF closure and each Arrow batch scores against it with exact
    int64 vector math, instead of a broadcast join expanding ksub
    candidate rows per subvector through interpreted ``zip_with``
    expressions (the r16 quiet profile: 2.4-3.8 s of single-task
    expression evaluation PER aggregation stage at sf0.1, the dominant
    cost of ann_ivfpq_trained).

    Bit-compatibility contract (the fused-encode precedent,
    ivfpq_build): d2 is an exact int64 squared-L2; ``np.argmin`` takes
    the FIRST minimum and the code axis is sorted ascending, so ties
    break to the lowest code — exactly the former ``min_by(...,
    struct(d2, code))`` pick, which the unrolled DuckDB oracle replays.
    Emits (id, sub, code, svec): one row per input row, no shuffle."""
    import numpy as np

    SUBS = sorted({r["sub"] for r in cb_rows})
    CODES = {
        s: np.array(
            [r["code"] for r in sorted(
                (r for r in cb_rows if r["sub"] == s),
                key=lambda r: r["code"],
            )],
            dtype=np.int64,
        )
        for s in SUBS
    }
    CBOOK = {
        s: np.array(
            [r["cvec"] for r in sorted(
                (r for r in cb_rows if r["sub"] == s),
                key=lambda r: r["code"],
            )],
            dtype=np.int64,
        )
        for s in SUBS
    }

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            frames = []
            for s in SUBS:
                m = pdf["sub"] == s
                if not m.any():
                    continue
                S = np.array(list(pdf.loc[m, "svec"]), dtype=np.int64)
                diff = S[:, None, :] - CBOOK[s][None, :, :]
                d2 = (diff * diff).sum(axis=2)
                pick = np.argmin(d2, axis=1)  # first min = lowest code
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf.loc[m, id_col].to_numpy(),
                            "sub": pdf.loc[m, "sub"].to_numpy(),
                            "code": CODES[s][pick],
                            "svec": pdf.loc[m, "svec"],
                        }
                    )
                )
            if frames:  # degenerate codebook (no sub overlap) → empty out
                yield pd.concat(frames, ignore_index=True)

    return subs.select(id_col, "sub", "svec").mapInPandas(
        assign, f"{id_col} long, sub int, code long, svec array<long>"
    )


def _lloyd_subspaces(subs: DataFrame, cb: DataFrame, iters: int,
                     id_col: str) -> DataFrame:
    """Lloyd's loop over per-subspace int subvectors: ``subs`` is
    (id, sub, svec array<long>), ``cb`` the seed (sub, code, cvec).
    Each iteration is a numpy-GEMM assign over the collected (bounded,
    m × ksub) codebook panel (:func:`_lloyd_assign_np` — map-only, no
    shuffle, exact int64, argmin ties to the lowest code) + a
    ((sub, code), component) average whose shuffle is m × ksub × dsub
    rows after partial aggregation — corpus-size-independent.  The
    per-iteration ``collect`` of the codebook is the same bounded-panel
    barrier the build's fused encode already takes; each iteration's
    update math stays in Spark (distributed exact averages)."""
    spark = subs.sparkSession
    for _ in range(iters):
        cb_rows = cb.collect()  # m × ksub — bounded panel
        cb = spark.createDataFrame(
            [(r["sub"], r["code"], list(r["cvec"])) for r in cb_rows],
            "sub int, code long, cvec array<long>",
        )
        assigned = _lloyd_assign_np(subs, cb_rows, id_col)
        means = (
            assigned.select("sub", "code", F.posexplode("svec").alias("i", "x"))
            .groupBy("sub", "code", "i")
            .agg(F.avg("x").alias("mx"))
        )
        updated = means.groupBy("sub", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mx"))),
                lambda s: F.round(s["mx"]).cast("long"),
            ).alias("cvec")
        )
        # keep the previous entry for any (sub, code) cell that emptied
        # this iteration — the codebook must stay m × ksub
        cb = (
            cb.select("sub", "code", F.col("cvec").alias("prev"))
            .join(updated, ["sub", "code"], "left")
            .select(
                "sub", "code", F.coalesce("cvec", "prev").alias("cvec")
            )
        )
    return cb


def pq_encode(vectors: DataFrame, codebooks: DataFrame, m: int = 8,
              dsub: int = 8, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, sub, code): each subvector's argmin-d2 codebook entry
    (ties break on the lower code).  m rows per vector — the long form;
    pack with collect_list if a single array column is wanted.  One
    corpus pass; the codebook is broadcast.

    Argmin via ``min_by`` keyed (d2, code) rather than a row_number
    window — same pick (codes unique per sub ⇒ the key totally orders
    each group), but the ksub candidate rows per (id, sub) collapse in
    the map-side partial aggregate instead of being exchanged and
    sorted (see :func:`_lloyd_subspaces`)."""
    subs = vectors.select(
        F.col(id_col),
        F.posexplode(
            subvector_split(F.col(vec_col), m, dsub)
        ).alias("sub", "svec"),
    )
    return (
        subs.join(F.broadcast(codebooks), "sub")
        .withColumn("d2", _int_d2(F.col("svec"), F.col("cvec")))
        .groupBy(id_col, "sub")
        .agg(F.min_by("code", F.struct("d2", "code")).alias("code"))
        .select(id_col, "sub", "code")
    )


def pq_adc_topk(embeddings: DataFrame, query_ids: list[int], k: int = 5,
                m: int = 8, dsub: int = 8, ksub: int = 16,
                codebooks: DataFrame | None = None,
                codes: DataFrame | None = None,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """PQ-ADC approximate top-k: (query_id, neighbor_id, adc_d2, rank),
    rank by ASCENDING approximate squared distance.

    Search touches only CODES: the per-query lookup table (m × ksub
    exact subdistances from the query's subvectors to every codebook
    entry) is broadcast, each code row picks up its subdistance by
    (sub, code) equi-join, and a groupBy sums the m parts.  At 100 TB
    the codes relation is the persisted index (25-50× smaller than raw
    vectors); raw embeddings are read only for the query side.
    ``adc_d2`` is an exact integer — no float-order nondeterminism.
    """
    cb = codebooks if codebooks is not None else pq_seed_codebooks(
        embeddings, m, dsub, ksub, id_col, vec_col
    )
    ix = codes if codes is not None else pq_encode(
        embeddings, cb, m, dsub, id_col, vec_col
    )

    qsubs = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            subvector_split(F.col(vec_col), m, dsub)
        ).alias("sub", "qsvec"),
    )
    lut = qsubs.join(cb, "sub").select(
        "query_id", "sub", "code",
        _int_d2(F.col("qsvec"), F.col("cvec")).alias("d2"),
    )

    scored = (
        ix.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.sum("d2").alias("adc_d2"))
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
