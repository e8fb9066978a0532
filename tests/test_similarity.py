"""Similarity-search operator tests."""

import math

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators import similarity


@pytest.fixture(scope="module")
def emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [1.0, 0.0, 0.1, 0.0]),   # close to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ordering(emb):
    out = similarity.cosine_topk(emb, [0], k=4).collect()
    ranked = [(r.rank, r.neighbor_id) for r in sorted(out, key=lambda r: r.rank)]
    # cos(0,4)=0.995..., cos(0,1)=0.993..., cos(0,2)=0, cos(0,3)=-1
    assert [n for _, n in ranked] == [4, 1, 2, 3]
    cos = {r.neighbor_id: r.cos for r in out}
    assert cos[4] == pytest.approx(1 / math.sqrt(1.01), abs=1e-6)
    assert cos[2] == 0.0
    assert cos[3] == -1.0


def test_cosine_topk_excludes_self(emb):
    out = similarity.cosine_topk(emb, [0], k=10).collect()
    assert all(r.neighbor_id != 0 for r in out)


def test_gemm_topk_matches_zipwith_exact(emb, spark, sf_dir):
    # tiny fixture: identical rows (query_id, neighbor_id, cos, rank)
    a = sorted(map(tuple, similarity.cosine_topk(emb, [0, 3], k=4).collect()))
    b = sorted(map(tuple, similarity.cosine_topk_gemm(emb, [0, 3], k=4).collect()))
    assert a == b
    # real embeddings table: bit-identical across 10 queries incl. ties
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sorted(map(tuple, similarity.cosine_topk(e, list(range(10)), k=5).collect()))
    b = sorted(map(tuple, similarity.cosine_topk_gemm(e, list(range(10)), k=5).collect()))
    assert a == b


def _assign_cells_reference(vectors, centroids):
    """The crossJoin + window rendering of IVF assignment: each vector to
    its max rounded-cosine centroid, ties to the lowest cell."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "cell",
        similarity.quantized_cosine(F.col("embedding"), F.col("cvec"))
        .alias("ccos"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )


def test_assign_cells_gemm_matches_crossjoin(emb, spark, sf_dir):
    # tiny fixture incl. an exact-tie construction: vec 5 is equidistant
    # from centroids 0 and 2 — the rounded-cosine argmax must take the
    # LOWER cell, matching the window plan's (desc ccos, asc cell) order
    rows = emb.collect() + [(5, [0.5, 0.5, 0.0, 0.0])]
    e6 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = similarity.seed_centroids(e6, 3)
    a = sorted(
        (r["vec_id"], r["cell"])
        for r in _assign_cells_reference(e6, cent).collect()
    )
    b = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.assign_cells_gemm(e6, cent).collect()
    )
    assert a == b
    # real embeddings table: row-identical assignment for all 2000
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent = similarity.seed_centroids(e, 16)
    a = sorted(
        (r["vec_id"], r["cell"])
        for r in _assign_cells_reference(e, cent).collect()
    )
    b = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.assign_cells_gemm(e, cent).collect()
    )
    assert a == b
    # the vector column passes through unchanged
    cent6 = similarity.seed_centroids(e6, 3)
    v = {r["vec_id"]: r["embedding"]
         for r in similarity.assign_cells_gemm(e6, cent6).collect()}
    want = {r["vec_id"]: r["embedding"] for r in e6.collect()}
    assert v == want


def test_round6_np_matches_spark_halfup(spark):
    import numpy as np

    vals = [0.1234565, -0.1234565, 0.9999995, -0.9999995, 0.49999999999999994e-6,
            1.0, -1.0, 0.0, 0.1234564999999999, 2.5e-7]
    got = similarity._round6_np(np.array(vals)).tolist()
    rows = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    ).select("i", F.round("x", 6).alias("r")).collect()
    want = [r["r"] for r in sorted(rows, key=lambda r: r["i"])]
    assert got == want


def test_round6_np_fuzz_against_spark(spark):
    # 20k pseudo-random doubles in [-1, 1] plus adversarial values right
    # at 6-dp boundaries: the shortest-repr HALF_UP claim must hold for
    # every one, or the GEMM assignment could diverge from the window
    # plan on some corpus
    import random

    import numpy as np

    rng = random.Random(20240813)
    vals = [rng.uniform(-1, 1) for _ in range(20000)]
    vals += [k * 5e-7 for k in range(-20, 21)]           # exact .5 boundaries
    vals += [k * 5e-7 + 1e-16 for k in range(-20, 21)]   # just above
    vals += [k * 5e-7 - 1e-16 for k in range(-20, 21)]   # just below
    got = similarity._round6_np(np.array(vals)).tolist()
    rows = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, x double"
    ).select("i", F.round("x", 6).alias("r")).collect()
    want = [r["r"] for r in sorted(rows, key=lambda r: r["i"])]
    mismatches = [
        (vals[i], g, w) for i, (g, w) in enumerate(zip(got, want)) if g != w
    ]
    assert not mismatches, mismatches[:5]


def test_assign_cells_gemm_fuzz(spark):
    # random float32 vectors including exact duplicates, a zero vector,
    # and near-tie geometry — assignment must agree row-for-row with the
    # crossJoin+window rendering
    import random

    rng = random.Random(5)
    dim = 16
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(300)]
    rows.append((300, [0.0] * dim))          # zero vector -> cos 0 everywhere
    rows.append((301, list(rows[7][1])))     # duplicate of a seed-range vector
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = similarity.seed_centroids(e, 8)
    a = sorted(
        (r["vec_id"], r["cell"])
        for r in _assign_cells_reference(e, cent).collect()
    )
    b = sorted(
        (r["vec_id"], r["cell"])
        for r in similarity.assign_cells_gemm(e, cent).collect()
    )
    assert a == b


def test_ivfpq_split_persisted_matches_composition(spark, sf_dir, tmp_path):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(10))
    want = sorted(map(tuple, similarity.ivfpq_topk(e, qids, k=5).collect()))
    # build once, persist the triple, reload, search — the deployment path
    cent, rcb, codes = similarity.ivfpq_build(e)
    for name, df in (("cent", cent), ("rcb", rcb), ("codes", codes)):
        df.write.parquet(f"{tmp_path}/{name}")
    got = sorted(map(tuple, similarity.ivfpq_search(
        e,
        spark.read.parquet(f"{tmp_path}/cent"),
        spark.read.parquet(f"{tmp_path}/rcb"),
        spark.read.parquet(f"{tmp_path}/codes"),
        qids, k=5,
    ).collect()))
    assert got == want


def test_ivf_split_persisted_matches_composition(spark, sf_dir, tmp_path):
    """The IVF-flat build/serve split (the ivfpq_build/search story for
    the flat index): build once, persist (centroids + cell-partitioned
    assigned corpus), reload, search — row-identical to ivf_topk."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(10))
    want = sorted(map(tuple, similarity.ivf_topk(e, qids, k=5).collect()))
    cent, assigned = similarity.ivf_build(e)
    cent.write.parquet(f"{tmp_path}/cent")
    # the deployment layout: partition the flat index by cell so a
    # probe's scan prunes to nprobe directories
    assigned.write.partitionBy("cell").parquet(f"{tmp_path}/assigned")
    got = sorted(map(tuple, similarity.ivf_search(
        e,
        spark.read.parquet(f"{tmp_path}/cent"),
        spark.read.parquet(f"{tmp_path}/assigned"),
        qids, k=5,
    ).collect()))
    assert got == want


def test_gemm_topk_excludes_self_even_in_lone_batch(spark):
    # a 1-row corpus that IS the query: the batch's only candidate is
    # itself; the -inf kth-threshold path must not leak it through
    one = spark.createDataFrame(
        [(7, [1.0, 2.0])], "vec_id long, embedding array<float>"
    ).repartition(1)
    assert similarity.cosine_topk_gemm(one, [7], k=3).count() == 0


def test_sign_bucket_groups_by_signs(emb):
    from pyspark.sql import functions as F

    b = emb.select(
        "vec_id", similarity.sign_bucket(F.col("embedding"), bits=4).alias("b")
    )
    got = {r.vec_id: r.b for r in b.collect()}
    # vec 0,1,2,4 all have non-negative coords → bucket 15; vec 3 differs
    assert got[0] == got[1] == got[2] == got[4] == 15
    assert got[3] == 14  # first coord negative → bit0 off


def test_lsh_bucket_topk_subset_of_bucket(emb):
    out = similarity.lsh_bucket_topk(emb, [0], k=10, bits=4).collect()
    # vec 3 is in another bucket → absent from candidates
    assert sorted(r.neighbor_id for r in out) == [1, 2, 4]


def test_random_hyperplanes_deterministic_and_mixing(emb):
    p1 = similarity.random_hyperplanes(4, 3)
    p2 = similarity.random_hyperplanes(4, 3)
    assert p1 == p2  # pinned digest derivation, no RNG state
    assert all(-32768 <= w <= 32767 for plane in p1 for w in plane)
    # different planes must differ (the family actually mixes)
    assert p1[0] != p1[1] != p1[2]
    assert similarity.random_hyperplanes(4, 3, seed="other") != p1


def test_rh_bucket_sign_semantics(emb, spark):
    from pyspark.sql import functions as F

    planes = similarity.random_hyperplanes(4, 3)
    got = {
        r.vec_id: r.b
        for r in emb.select(
            "vec_id",
            similarity.hyperplane_bucket_q(
                similarity._quantize(F.col("embedding")), planes
            ).alias("b"),
        ).collect()
    }
    # recompute driver-side with exact integer math
    rows = {r.vec_id: r.embedding for r in emb.collect()}
    for vid, vec in rows.items():
        q = [round(x * 1_000_000) for x in vec]
        expect = sum(
            (1 << j)
            for j, plane in enumerate(planes)
            if sum(w * qi for w, qi in zip(plane, q)) >= 0
        )
        assert got[vid] == expect
    # opposite vectors land in complementary buckets (every bit flips
    # unless a dot is exactly 0 — not the case for these planes)
    assert got[0] ^ got[3] == 0b111


def test_rh_recall_not_worse_than_axis_sign(spark, sf_dir):
    """On the real embeddings table, SRP buckets should recall at least
    as many true (brute-force) top-5 neighbors as axis-sign buckets at
    the same bit width — the reason the family exists."""
    from dirt_hadoop_similarity_spark.plans.queries import load

    emb_t = load(spark, sf_dir, "embeddings")
    qids = list(range(0, 500, 50))
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb_t, qids, k=5).collect()
    }
    rh = {
        (r.query_id, r.neighbor_id)
        for r in similarity.rh_bucket_topk(emb_t, qids, k=5, bits=8).collect()
    }
    ax = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_bucket_topk(emb_t, qids, k=5, bits=8).collect()
    }
    assert len(rh & truth) >= len(ax & truth)


def test_trained_ivfpq_codebook_lineage_is_severed(spark, sf_dir):
    """The train_iters>0 codebook must NOT keep a lazy lineage into the
    corpus-sized residual relation (which ivfpq_build unpersists before
    returning): the returned rcb is rebuilt from collected rows, so its
    plan is a local relation — every downstream action would otherwise
    re-run the full training passes uncached."""
    emb_df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cent, rcb, codes = similarity.ivfpq_build(emb_df, train_iters=1)
    plan = rcb._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" not in plan.lower()
    assert rcb.count() == 8 * 16  # m × ksub rows survive the rebuild
    # and the triple still serves searches end to end
    out = similarity.ivfpq_search(
        emb_df, cent, rcb, codes, [40, 41], k=3
    ).collect()
    assert {r["query_id"] for r in out} == {40, 41}


def test_ivf_topk_candidates_come_from_probed_cells(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans.queries import load

    emb_t = load(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb_t, [7], k=50, n_centroids=16, nprobe=2)
    rows = out.collect()
    assert len(rows) > 0
    # every neighbor must be assigned to one of the query's 2 probed cells
    cent = similarity.seed_centroids(emb_t, 16)
    assigned = {
        r.vec_id: r.cell
        for r in _assign_cells_reference(emb_t, cent).collect()
    }
    import pyspark.sql.functions as F

    probes = {
        r.cell
        for r in _assign_cells_reference(
            emb_t.filter(F.col("vec_id") == 7), cent
        ).collect()
    }  # top-1 probe is the assignment cell; nprobe=2 is a superset
    neighbor_cells = {assigned[r.neighbor_id] for r in rows}
    assert len(neighbor_cells) <= 2
    assert probes <= neighbor_cells or len(neighbor_cells) == 2


def test_ivf_with_trained_codebook_runs(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans.queries import load

    emb_t = load(spark, sf_dir, "embeddings")
    # a given 8-cell codebook in place of the 16 default seeds
    cent = similarity.seed_centroids(emb_t, 8)
    out = similarity.ivf_topk(
        emb_t, [3, 9], k=3, nprobe=2, centroids=cent
    ).collect()
    assert len(out) > 0
    assert all(r.rank <= 3 for r in out)


def test_embedding_near_duplicates(emb):
    out = similarity.embedding_near_duplicates(emb, threshold=0.99, bits=4)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 4) in pairs and (0, 1) in pairs
    assert all(3 not in p for p in pairs)


def test_pq_encode_shape_and_determinism(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = similarity.pq_seed_codebooks(emb, m=8, dsub=8, ksub=16)
    assert cb.count() == 8 * 16
    codes = similarity.pq_encode(emb, cb, m=8, dsub=8)
    n = emb.count()
    assert codes.count() == n * 8  # m rows per vector
    # codes in range, deterministic across runs
    stats = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).first()
    assert 0 <= stats["lo"] and stats["hi"] < 16
    again = similarity.pq_encode(emb, cb, m=8, dsub=8)
    assert codes.exceptAll(again).count() == 0


def test_pq_adc_recall_vs_exact_l2(spark, sf_dir):
    """ADC approximates SQUARED-L2, so its recall baseline is the exact
    L2 top-5 (not cosine).  The synthetic embeddings are uniform random
    — the pathological case for ANY compressed index (distances
    concentrate, so 64-bit codes can barely order the top-5; measured
    ~0.22 here, and k-means training does not help on structureless
    data).  The bar is therefore 'far above chance' (chance ≈ 1%), not
    'high': >= 12%.  Implementation EXACTNESS is covered by the
    ann_pq_topk DuckDB oracle, which checks every code and distance."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(10))

    q = emb.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("query_id"),
        similarity._quantize(F.col("embedding")).alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        similarity._quantize(F.col("embedding")).alias("cv"),
    )
    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in (
            c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
            .withColumn("d2", similarity._int_d2(F.col("qv"), F.col("cv")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
        ).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_adc_topk(emb, qids, k=5).collect()
    }
    assert len(pq) == len(exact) == 50
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.12, recall


class TestSemanticDedup:
    def test_keep_drop_by_cell_and_threshold(self, spark):
        # a, b share direction (cos 1) in the all-positive cell; d is in
        # the same cell but dissimilar; c sits in another cell entirely
        rows = [
            (0, [1.0] * 8),
            (1, [2.0] * 8),
            (2, [1.0, -1.0] * 4),
            (3, [0.01] * 7 + [1.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["vec_id"]: r for r in
               similarity.semantic_dedup(emb, threshold=0.8).collect()}
        assert out[0]["kept"] and out[0]["dup_of"] is None
        assert not out[1]["kept"] and out[1]["dup_of"] == 0
        assert out[1]["cos"] == pytest.approx(1.0)
        assert out[2]["kept"]  # different cell, never compared
        assert out[3]["kept"]  # same cell, cos ~0.38 < 0.8

    def test_single_pass_chain_semantics(self, spark):
        # angles 0/40/80 deg: a~b and b~c above tau, a~c below.  The
        # documented single-pass rule drops c against the already-dropped
        # b (compared to ALL lower ids, not only survivors).
        import math
        rows = [
            (0, [1.0, 0.0]),
            (1, [math.cos(math.radians(40)), math.sin(math.radians(40))]),
            (2, [math.cos(math.radians(80)), math.sin(math.radians(80))]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {r["vec_id"]: r for r in
               similarity.semantic_dedup(emb, threshold=0.7, bits=1).collect()}
        assert out[0]["kept"]
        assert not out[1]["kept"] and out[1]["dup_of"] == 0
        assert not out[2]["kept"] and out[2]["dup_of"] == 1


class TestSemanticDedupScaleModes:
    def test_auto_bits_pins_expected_occupancy(self):
        # the law: n / 2^bits <= target (within the clamp), monotone in n
        assert similarity.semantic_dedup_auto_bits(1_000) == 4
        assert similarity.semantic_dedup_auto_bits(2_000_000) == 10
        b = [similarity.semantic_dedup_auto_bits(n)
             for n in (10**4, 10**6, 10**8, 10**10)]
        assert b == sorted(b) and b[-1] <= 24
        for n in (10**4, 10**6, 10**8):
            bits = similarity.semantic_dedup_auto_bits(n)
            assert bits == 24 or (n >> bits) <= 2000

    def test_target_cell_rows_matches_explicit_bits(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        n = emb.count()
        bits = similarity.semantic_dedup_auto_bits(n, target_cell_rows=50)
        auto = similarity.semantic_dedup(
            emb, threshold=0.7, target_cell_rows=50)
        explicit = similarity.semantic_dedup(emb, threshold=0.7, bits=bits)
        assert auto.exceptAll(explicit).count() == 0
        assert explicit.exceptAll(auto).count() == 0

    def test_trained_centroids_mode(self, spark):
        import math
        # two tight direction clusters + one outlier; one given
        # centroid per cluster
        rows = [(i, [1.0 + i * 1e-3, 0.0]) for i in range(4)]
        rows += [(10 + i, [0.0, 1.0 + i * 1e-3]) for i in range(4)]
        rows += [(99, [math.cos(math.radians(45)), math.sin(math.radians(45))])]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        cent = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell long, cvec array<float>")
        out = {r["vec_id"]: r for r in similarity.semantic_dedup(
            emb, threshold=0.99, centroids=cent).collect()}
        assert len(out) == 9
        # each direction cluster keeps exactly its lowest id
        assert out[0]["kept"] and all(
            not out[i]["kept"] and out[i]["dup_of"] == 0 for i in (1, 2, 3))
        assert out[10]["kept"] and all(
            not out[i]["kept"] and out[i]["dup_of"] == 10
            for i in (11, 12, 13))

    def test_mode_exclusivity(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="at most one"):
            similarity.semantic_dedup(
                emb, centroids=emb, target_cell_rows=10)


class TestHardNegatives:
    def test_ceiling_filters_without_promoting(self, spark):
        import math

        def v(deg):
            return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

        # query 0; rank order by cosine: 1 (near-dup), 2, 3, 4
        rows = [(0, v(0)), (1, v(0.1)), (2, v(30)), (3, v(50)), (4, v(70))]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = similarity.hard_negatives(
            emb, [0], skip=0, take=3, max_cos=0.95
        ).collect()
        got = {(r["neighbor_id"], r["rank"]) for r in out}
        # rank 1 (cos ~1.0) removed by the ceiling; ranks 2-3 keep their
        # ranks — vec 4 is NOT promoted into the window
        assert got == {(2, 2), (3, 3)}

    def test_skip_band(self, spark):
        import math

        def v(deg):
            return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

        rows = [(i, v(i * 10.0)) for i in range(6)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = similarity.hard_negatives(emb, [0], skip=2, take=2, max_cos=1.0)
        assert sorted(r["rank"] for r in out.collect()) == [3, 4]
        with pytest.raises(ValueError, match="skip"):
            similarity.hard_negatives(emb, [0], skip=-1)


class TestIvfPq:
    def test_exact_duplicate_ranks_first(self, spark):
        # 16 coarse seeds + 16 PQ seeds + extras; vec 36 duplicates
        # query 35 exactly, so its residual equals the query's residual
        # and every subvector snaps to the query's own nearest codebook
        # entry — the minimum achievable ADC distance => rank 1
        import random
        rng = random.Random(3)
        vecs = {i: [rng.uniform(-1, 1) for _ in range(64)]
                for i in range(40)}
        vecs[36] = list(vecs[35])
        emb = spark.createDataFrame(
            list(vecs.items()), "vec_id long, embedding array<float>"
        )
        out = similarity.ivfpq_topk(emb, [35], k=3)
        top = sorted(out.collect(), key=lambda r: r["rank"])
        assert top and top[0]["neighbor_id"] == 36

    def test_neighbors_only_from_probed_cells(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = similarity.ivfpq_topk(emb, [0, 1], k=5, nprobe=1)
        cent = similarity.seed_centroids(emb)
        assigned = _assign_cells_reference(emb, cent).select(
            F.col("vec_id").alias("neighbor_id"), "cell")
        got = out.join(assigned, "neighbor_id").select(
            "query_id", "cell").distinct().collect()
        # nprobe=1: all of a query's neighbors share ONE cell
        per_query = {}
        for r in got:
            per_query.setdefault(r["query_id"], set()).add(r["cell"])
        assert per_query and all(len(c) == 1 for c in per_query.values())


class TestIvfPqRecall:
    def test_recall_floors_and_training_lift(self, spark, sf_dir):
        """Deterministic recall pins vs exact cosine top-5 (the data and
        all seeds are fixed, so these are exact expectations, not
        statistical floors): residual PQ must beat raw-vector PQ at
        equal bits, and Lloyd's training must not hurt."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qids = list(range(10))
        exact = similarity.cosine_topk(emb, qids, k=5)

        def recall(approx):
            return exact.join(
                approx, ["query_id", "neighbor_id"], "left_semi"
            ).count() / 50

        seeded = recall(similarity.ivfpq_topk(emb, qids, k=5))
        raw_pq = recall(similarity.pq_adc_topk(emb, qids, k=5))
        trained = recall(similarity.ivfpq_topk(emb, qids, k=5, train_iters=3))
        assert trained > raw_pq  # trained residual PQ beats raw at = bits
        assert trained >= seeded  # Lloyd's refinement never hurts here
        assert seeded >= 0.2


def test_ivfpq_rerank_shortlist_subset_and_exact_order(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(10))
    shortlist = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_topk(e, qids, k=20).collect()
    }
    out = similarity.ivfpq_rerank_topk(e, qids, k=5, rerank=20).collect()
    per_q = {}
    for r in out:
        # stage 2 can only reorder the stage-1 shortlist, never add
        assert (r["query_id"], r["neighbor_id"]) in shortlist
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["cos"]))
    for q, rows in per_q.items():
        rows.sort()
        ranks = [rk for rk, _ in rows]
        assert ranks == list(range(1, len(rows) + 1))
        coss = [c for _, c in rows]
        assert coss == sorted(coss, reverse=True)  # exact-cos ordering


def test_ivfpq_rerank_recall_not_worse_than_adc(spark, sf_dir):
    # re-scoring the shortlist with the exact cosine must not LOSE
    # recall@5 vs trusting the lossy ADC ranks for the same shortlist
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qids = list(range(10))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk_gemm(e, qids, k=5).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_topk(e, qids, k=5).collect()
    }
    rer = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivfpq_rerank_topk(e, qids, k=5, rerank=20).collect()
    }
    assert len(rer & exact) >= len(adc & exact)


def test_filtered_topk_respects_predicate_and_prefilter_guarantee(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    allowed = docs.filter(F.col("lang") == "en").select(
        F.col("doc_id").alias("vec_id"))
    allowed_ids = {r["vec_id"] for r in allowed.collect()}
    qids = list(range(10))
    out = similarity.filtered_topk(e, allowed, qids, k=5).collect()
    assert out
    for r in out:
        assert r["neighbor_id"] in allowed_ids   # predicate respected
        assert r["neighbor_id"] != r["query_id"]  # self excluded
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    # pre-filter guarantee: a full k per query (eligible pool >> k here),
    # where post-filtering an unfiltered top-5 would come up short
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())
    unfiltered = similarity.cosine_topk(e, qids, k=5).collect()
    post = [r for r in unfiltered if r["neighbor_id"] in allowed_ids]
    assert len(post) < len(out)


class TestScaleSafeDefaults:
    def test_semantic_dedup_default_is_occupancy_scaled(self, spark, sf_dir):
        """r15 (VERDICT r14 task 3): the NAIVE semantic_dedup call routes
        to the occupancy-scaled grid — bit-identical to spelling the
        default target out."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        default = similarity.semantic_dedup(emb, threshold=0.7)
        spelled = similarity.semantic_dedup(
            emb, threshold=0.7,
            target_cell_rows=similarity.DEFAULT_TARGET_CELL_ROWS)
        assert default.exceptAll(spelled).count() == 0
        assert spelled.exceptAll(default).count() == 0

    def test_semantic_dedup_grid_knobs_exclusive(self, spark):
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="at most one"):
            similarity.semantic_dedup(emb, bits=8, target_cell_rows=10)
        with pytest.raises(ValueError, match="at most one"):
            similarity.semantic_dedup(emb, bits=8, centroids=emb)


class TestGemmElementTypePreserved:
    def test_double_corpus_not_narrowed(self, spark):
        """ADVICE r15: assign_cells_gemm's passthrough vector declared
        array<float> unconditionally, silently narrowing an
        array<double> corpus — a value near a 0.5 quantization boundary
        then quantized DIFFERENTLY downstream of the GEMM assignment
        than in plans that quantize the original column.  The schema
        now follows the input's element type."""
        import numpy as np
        from pyspark.sql.types import DoubleType

        # find a double whose exact-HALF_UP micro-quantization flips
        # under float32 narrowing (plenty exist: float32 spacing near
        # 0.1 is ~7.5e-9, far coarser than the 1e-11 gap to the .5
        # boundary used here)
        cand = (np.arange(1, 50000, dtype=np.float64) + 0.4999999) / 1e6
        narrowed = cand.astype(np.float32).astype(np.float64)

        def half_up(v):
            return np.floor(v * 1e6 + 0.5)

        flips = np.nonzero(half_up(cand) != half_up(narrowed))[0]
        assert flips.size, "no boundary value found — widen the search"
        x = float(cand[flips[0]])

        e = spark.createDataFrame(
            [(0, [x, 1.0])], "vec_id long, embedding array<double>")
        cent = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell long, cvec array<float>")
        out = similarity.assign_cells_gemm(e, cent)
        assert isinstance(
            out.schema["embedding"].dataType.elementType, DoubleType)
        # passthrough value is bit-identical to the input double
        assert out.collect()[0]["embedding"][0] == x
        # downstream quantization of the passthrough == quantizing the
        # original column (the parity the two semantic_dedup modes need)
        q_orig = e.select(
            similarity._quantize(F.col("embedding")).alias("q")
        ).collect()[0]["q"]
        q_thru = out.select(
            similarity._quantize(F.col("embedding")).alias("q")
        ).collect()[0]["q"]
        assert q_orig == q_thru
        # and the float32 narrowing REALLY would have flipped it
        assert round(np.float32(x) * 1e6) != q_orig[0]
