"""Connected-components invariants: multi-hop transitivity (the case
pairwise near-dup output cannot express), convergence on chains longer
than one propagation round, and the cluster roll-up."""

from __future__ import annotations

from dirt_hadoop_similarity_spark.operators import components


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_chain_collapses_to_one_component(spark):
    # path graph 1-2-3-4-5: diameter 4 forces several iterations
    comp = components.connected_components(
        _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    )
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_clusters_stay_separate(spark):
    comp = components.connected_components(
        _edges(spark, [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)])
    )
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_edge_direction_irrelevant(spark):
    # label must flow against the stored edge direction too
    comp = components.connected_components(_edges(spark, [(5, 1), (2, 5)]))
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {1: 1, 2: 1, 5: 1}


def test_empty_edges(spark):
    assert components.connected_components(_edges(spark, [])).count() == 0


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min reachable id
    return {x: find(x) for x in parent}


def test_star_matches_plain_and_union_find_on_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        pairs = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(10, 45))
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        expected = _union_find(pairs)
        edges = _edges(spark, pairs)
        star = {
            r["node"]: r["component"]
            for r in components.connected_components_star(edges).collect()
        }
        plain = {
            r["node"]: r["component"]
            for r in components.connected_components(edges).collect()
        }
        assert star == expected, f"trial {trial}"
        assert plain == expected, f"trial {trial}"


def test_star_converges_on_long_chain(spark):
    # path graph 0-1-2-...-59: diameter 59 breaks plain propagation at
    # max_iter=25; the star variant needs O(log n) rounds
    pairs = [(i, i + 1) for i in range(59)]
    comp = components.connected_components_star(_edges(spark, pairs))
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {i: 0 for i in range(60)}


def test_star_empty_and_self_loops(spark):
    assert components.connected_components_star(_edges(spark, [])).count() == 0
    comp = components.connected_components_star(
        _edges(spark, [(3, 3), (4, 5)])
    )
    rows = {r["node"]: r["component"] for r in comp.collect()}
    assert rows == {3: 3, 4: 4, 5: 4}


def test_cluster_keepers_picks_richest_member(spark):
    """dedup_cluster_keepers policy on a hand-built graph: keeper is the
    max-n_chars member, tie-break min id."""
    from dirt_hadoop_similarity_spark.plans.queries import ordered_registry  # noqa: F401
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    comp = components.connected_components(
        _edges(spark, [(1, 2), (2, 3), (7, 8)])
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 5), (8, 4)], "doc_id long, n_chars long"
    )
    joined = comp.join(docs, comp["node"] == docs["doc_id"])
    w = W.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    keepers = {
        r.component: (r.keeper_id, r.keeper_chars)
        for r in joined.withColumn("rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("keeper_chars"),
        )
        .collect()
    }
    assert keepers == {1: (2, 99), 7: (7, 5)}


class TestPagerank:
    def _pr_reference(self, edges, iters=5, damping=85, scale=1_000_000):
        """Pure-Python replica of the integer iteration."""
        und = set()
        for a, b in edges:
            und.add((a, b)); und.add((b, a))
        nodes = sorted({u for u, _ in und})
        deg = {n: sum(1 for u, _ in und if u == n) for n in nodes}
        base = (100 - damping) * scale // 100
        pr = {n: scale for n in nodes}
        for _ in range(iters):
            inbox = {n: 0 for n in nodes}
            for u, v in und:
                inbox[v] += pr[u] // deg[u]
            pr = {n: base + damping * inbox[n] // 100 for n in nodes}
        return pr, deg

    def test_matches_hand_iteration(self, spark):
        from dirt_hadoop_similarity_spark.operators import components

        # path + triangle + isolated pair: mixed degrees
        edges = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r.node: (r.d, r.pr)
            for r in components.pagerank(df, iters=5).collect()
        }
        want_pr, want_deg = self._pr_reference(edges)
        assert got == {n: (want_deg[n], want_pr[n]) for n in want_pr}

    def test_star_center_dominates_and_symmetry(self, spark):
        from dirt_hadoop_similarity_spark.operators import components

        star = [(0, i) for i in range(1, 7)]
        df = spark.createDataFrame(star, "id_a long, id_b long")
        got = {r.node: r.pr for r in components.pagerank(df).collect()}
        leaves = {got[i] for i in range(1, 7)}
        assert len(leaves) == 1          # symmetric nodes score equal
        assert got[0] > max(leaves) * 3  # the hub dominates

    def test_validation(self, spark):
        import pytest

        from dirt_hadoop_similarity_spark.operators import components

        df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="iters"):
            components.pagerank(df, iters=0)
        with pytest.raises(ValueError, match="damping_pct"):
            components.pagerank(df, damping_pct=101)

    def test_salted_join_bit_identical(self, spark):
        """salt only re-routes rows through extra tasks — the integer
        algebra must produce bit-for-bit the same ranks, hub or not."""
        from dirt_hadoop_similarity_spark.operators import components

        # a hub (node 0 touches everyone) plus a sparse tail
        edges = [(0, i) for i in range(1, 12)] + [(3, 7), (8, 9), (5, 11)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        plain = {
            r.node: (r.d, r.pr)
            for r in components.pagerank(df, iters=5).collect()
        }
        salted = {
            r.node: (r.d, r.pr)
            for r in components.pagerank(df, iters=5, salt=8).collect()
        }
        assert salted == plain

    def test_auto_salt_routes_by_degree_skew(self, spark):
        """salt='auto' must engage salting exactly when the max degree
        crosses slots x average (the key_skew_profile straggler rule).
        The per-round checkpoint severs the returned frame's lineage,
        so the decision helper is tested directly on degree relations,
        plus end-to-end output equality on the auto path."""
        import pytest

        from dirt_hadoop_similarity_spark.operators import components

        def deg_frame(degrees):
            return spark.createDataFrame(
                [(i, d) for i, d in enumerate(degrees)], "node long, d long"
            )

        # one hub at 200 vs avg ~2.9 -> 200 >= 8 slots x avg: salt
        assert components._auto_salt(
            deg_frame([200] + [2] * 100), slots=8) == 8
        # ring: every degree 2, max == avg -> no salt
        assert components._auto_salt(deg_frame([2] * 40), slots=8) == 0

        # end-to-end: the auto route (salting engaged) is bit-identical
        hub = [(0, i) for i in range(1, 201)] + [(5, 9), (30, 31)]
        df = spark.createDataFrame(hub, "id_a long, id_b long")
        auto = {
            r.node: (r.d, r.pr)
            for r in components.pagerank(df, iters=2, salt="auto").collect()
        }
        plain = {
            r.node: (r.d, r.pr)
            for r in components.pagerank(df, iters=2).collect()
        }
        assert auto == plain

        with pytest.raises(ValueError, match="salt"):
            components.pagerank(df, salt="both")

    def test_salt_value_forwarded_to_salted_join(self, spark, monkeypatch):
        """ADVICE r10 (medium): pagerank(salt=4) must salt with 4
        replicas, not salted_join's default of 8 — the knob was
        silently ignored for any value other than 8.  The per-round
        localCheckpoint severs the returned plan, so capture the value
        at the call site instead of grepping the plan."""
        from dirt_hadoop_similarity_spark.operators import components, scale

        seen = []
        real = scale.salted_join

        def spy(large, small, key, salt=8, how="inner"):
            seen.append(salt)
            return real(large, small, key, salt=salt, how=how)

        monkeypatch.setattr(scale, "salted_join", spy)
        edges = [(0, i) for i in range(1, 12)] + [(3, 7), (8, 9)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        salted = {
            r.node: (r.d, r.pr)
            for r in components.pagerank(df, iters=3, salt=4).collect()
        }
        assert seen == [4, 4, 4]  # one salted join per iteration
        plain = {
            r.node: (r.d, r.pr)
            for r in components.pagerank(df, iters=3).collect()
        }
        assert salted == plain

    def test_task_slots_estimate(self, spark):
        """ADVICE r10 / VERDICT r10 task 5: the auto-salt slot estimate
        is min(shuffle-partitions conf, defaultParallelism), falling
        back to defaultParallelism when the conf is non-numeric (e.g.
        'auto' on managed deployments)."""
        from dirt_hadoop_similarity_spark.operators import components

        dp = spark.sparkContext.defaultParallelism
        key = "spark.sql.shuffle.partitions"
        orig = spark.conf.get(key)
        try:
            # conf far above real parallelism: AQE coalescing means at
            # most dp tasks run at once -> estimate capped at dp
            spark.conf.set(key, str(dp * 64))
            assert components._task_slots(spark) == dp
            # conf below: fewer reduce partitions than cores
            spark.conf.set(key, "2")
            assert components._task_slots(spark) == min(2, dp)
        finally:
            spark.conf.set(key, orig)

        # non-numeric conf must not raise (OSS Spark validates the conf
        # at set-time, so the managed-deployment 'auto' value is
        # simulated with a stub session object)
        class _Conf:
            def get(self, _key):
                return "auto"

        class _SC:
            defaultParallelism = 7

        class _Stub:
            conf = _Conf()
            sparkContext = _SC()

        assert components._task_slots(_Stub()) == 7

    def test_random_graphs_match_reference(self, spark):
        """Property: on arbitrary random graphs the distributed integer
        iteration equals the pure-Python replica exactly (no float, so
        equality is bitwise, not approximate)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from dirt_hadoop_similarity_spark.operators import components

        edge = st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(
            lambda e: e[0] != e[1]
        )
        graph = st.lists(edge, min_size=1, max_size=25)

        @settings(max_examples=8, deadline=None)
        @given(graph)
        def check(edges):
            df = spark.createDataFrame(edges, "id_a long, id_b long")
            got = {
                r.node: (r.d, r.pr)
                for r in components.pagerank(df, iters=4).collect()
            }
            want_pr, want_deg = self._pr_reference(edges, iters=4)
            assert got == {n: (want_deg[n], want_pr[n]) for n in want_pr}

        check()


def test_pagerank_releases_edge_cache(spark):
    """VERDICT r6/r7: pagerank's storage footprint is O(1) per call —
    the symmetrized-edge SQL cache is released (blocking) before return,
    and every superseded per-round localCheckpoint is dropped, leaving
    at most the final checkpoint (read by the returned plan) plus the
    deg relation's SQL cache.

    Storage kinds are told apart by name: SQL InMemoryRelation entries
    carry the multi-line physical-plan string; checkpoint RDDs carry the
    bare RDD class name (no newline).
    """
    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    base_ids = {i.id() for i in sc.getRDDStorageInfo()}
    pr = components.pagerank(
        _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 4)]), iters=3
    )
    pr.count()
    entries = [
        i for i in sc.getRDDStorageInfo() if i.id() not in base_ids
    ]
    names = [str(i.name()) for i in entries]
    sql_caches = [n for n in names if "\n" in n]
    ckpts = [n for n in names if "\n" not in n]
    # only deg may stay SQL-cached — the und edge cache must be gone
    # (pagerank unpersists it with blocking=True, so no async race)
    assert len(sql_caches) <= 1, names
    # of the 3 per-round checkpoints, only the final one holds storage
    assert len(ckpts) <= 1, names
    spark.catalog.clearCache()


def test_components_storage_is_o1_per_call(spark):
    """Long-chain runs of both components variants hold at most ONE
    checkpoint (the final labels/edges relation the returned plan reads)
    plus transient SQL caches that the operator released before
    returning — k-round iteration must not accumulate k checkpoints
    (VERDICT r7 task 6)."""
    chain = [(i, i + 1) for i in range(12)]  # diameter ~12 → many rounds
    sc = spark.sparkContext._jsc.sc()
    for fn in (components.connected_components,
               components.connected_components_star):
        spark.catalog.clearCache()
        base_ids = {i.id() for i in sc.getRDDStorageInfo()}
        out = fn(_edges(spark, chain))
        got = {r.node: r.component for r in out.collect()}
        assert got == {n: 0 for n in range(13)}, fn.__name__
        entries = [
            i for i in sc.getRDDStorageInfo() if i.id() not in base_ids
        ]
        names = [str(i.name()) for i in entries]
        ckpts = [n for n in names if "\n" not in n]
        sql_caches = [n for n in names if "\n" in n]
        assert len(ckpts) <= 1, (fn.__name__, names)
        # und/e/nodes SQL caches are all released (blocking) before return
        assert not sql_caches, (fn.__name__, names)
        spark.catalog.clearCache()


def test_ckpt_release_is_concurrency_safe(spark):
    """_ckpt must identify the checkpoint RDD from the checkpointed
    frame's OWN plan, never from a session-global diff (ADVICE r8
    medium): with a foreign RDD persisted between the checkpoint and the
    release — what a concurrent job on a shared session does — the
    release must free exactly the superseded checkpoint and leave the
    foreign RDD's storage untouched."""
    sc = spark.sparkContext
    df1 = spark.range(100).selectExpr("id % 7 AS k").groupBy("k").count()
    ck1, h1 = components._ckpt(df1)
    # a concurrent thread persists something AFTER our checkpoint — under
    # the old max(new-ids) diff this could be mistaken for the checkpoint
    foreign = sc.parallelize(range(1000), 2).cache()
    foreign.count()
    df2 = spark.range(50).selectExpr("id % 3 AS k").groupBy("k").count()
    ck2, h2 = components._ckpt(df2, release=h1)
    persisted = {int(k) for k in sc._jsc.getPersistentRDDs().keySet()}
    assert foreign.id() in persisted, "foreign RDD was wrongly unpersisted"
    assert int(h1.id()) not in persisted, "superseded checkpoint leaked"
    assert int(h2.id()) in persisted, "live checkpoint missing"
    assert ck2.count() == 3
    foreign.unpersist(True)
    h2.unpersist(True)
