"""Connected components over near-duplicate candidate pairs.

Pairwise near-dup output (MinHash/LSH, SimHash, embedding-cosine) is not
yet a dedup decision: duplicates form CLUSTERS via transitivity (A~B,
B~C => {A,B,C} even when A,C never collide in a band).  This operator
turns the pair relation into per-node component labels with the classic
min-label propagation:

    label(v) <- min(label(v), min over neighbors u of label(u))

iterated to fixpoint.  Each iteration is one shuffle keyed on node id
(edges join labels, then groupBy-min with map-side partial aggregation);
the iteration count is bounded by the cluster diameter, which for
dedup graphs is small (duplicate clusters are near-cliques — band
collisions connect most members directly).

Scale notes:
  * the edge relation is bounded by real duplication (it comes out of
    the banded equi-join, never all-pairs), so each iteration's join is
    |edges|-sized, not corpus-sized;
  * each iteration ends in ``localCheckpoint`` — the label relation
    appears TWICE in its own successor (once as itself, once under the
    message join), so the logical plan doubles per round; ``cache``
    alone cuts recomputation but not the plan, which explodes past
    ~8 rounds (observed: OOM building the explain string on a
    diameter-8 graph).  ``localCheckpoint`` truncates lineage; on a
    real cluster use ``setCheckpointDir`` + ``checkpoint()`` so the
    cut also survives executor loss;
  * convergence is detected with a 1-row aggregate per iteration
    (sum of labels, strictly decreasing until fixpoint — SURVEY S6
    scalar-read pattern), so the loop does at most ``diameter + 1``
    passes.

For graphs with adversarially long chains (path graphs), use
:func:`connected_components_star` — the large-star/small-star variant
(Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14): same output and join shape, provably O(log n) rounds.  Plain
propagation stays the default for dedup workloads (near-clique
clusters converge in 1-2 rounds with one join per round); the star
variant is property-tested equivalent on random graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Symmetric (u, v) view of an edge relation in ONE pass: each edge
    explodes into its two directed rows.  A union of two projections of
    ``edges`` executes the edge lineage once PER BRANCH when the result
    materializes (cache fill included) — for edges coming out of the
    MinHash band join that is the whole candidate-generation chain
    twice.  Same one-pass-closure rationale as
    textsim.cosine_topk_neighbors."""
    return edges.select(
        F.explode(F.array(
            F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
            F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
        )).alias("e")
    ).select("e.u", "e.v")


def _ckpt(df: DataFrame, release=None) -> tuple[DataFrame, object]:
    """Eagerly ``localCheckpoint`` ``df``, release the storage of a
    superseded prior checkpoint, and return ``(checkpointed_df, jrdd)``
    where ``jrdd`` is the Java RDD handle backing the new checkpoint.

    ``DataFrame.localCheckpoint`` persists an internal RDD at
    MEMORY_AND_DISK that ``spark.catalog.clearCache()`` does NOT clear
    and that nothing frees until the context cleaner GCs it — so an
    iterative operator that checkpoints per round would otherwise hold
    every round's copy of the label/rank relation simultaneously.  Each
    round's checkpoint fully materializes before the previous one is
    dropped (localCheckpoint is eager by default), so releasing the
    superseded round is safe: nothing can re-read it.

    The persisted RDD is read straight off the checkpointed frame's own
    plan: ``localCheckpoint`` analyzes to a ``LogicalRDD`` wrapping
    exactly the RDD it persisted.  Holding that handle (rather than
    diffing the session-global ``getPersistentRDDs`` map, as an earlier
    revision did) makes the release safe under concurrency: another
    thread persisting anything on the same SparkContext between the
    checkpoint and the diff could otherwise be mis-identified as "our"
    checkpoint and blocking-unpersisted — unrecoverable for a
    lineage-truncated RDD some other job still reads.  Blocking
    unpersist — one driver RPC per round, negligible next to the
    round's shuffle, and it makes storage accounting deterministic for
    tests and memory-pressure reasoning alike.

    Each release logs Spark's "RDD was locally checkpointed, its
    lineage has been truncated and cannot be recomputed" WARN — that is
    the expected message for unpersisting any localCheckpoint, not an
    error: nothing references the superseded round, so nothing will
    ever ask for the recomputation the warning is about.
    """
    ck = df.localCheckpoint()
    jrdd = ck._jdf.queryExecution().analyzed().rdd()
    if release is not None:
        release.unpersist(True)
    return ck, jrdd


def connected_components(edges: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 25) -> DataFrame:
    """(node, component) for every node appearing in ``edges``; the
    component label is the minimum node id reachable from the node.

    ``edges`` is treated as undirected; self-loops and duplicate edges
    are tolerated (they do not change the fixpoint).
    """
    # Pre-partition the cached edge relation by v — the per-round join
    # key (guide §2.4: two operations keyed the same way share one
    # exchange).  distinct() groups by (u, v), which HashPartitioning(v)
    # already satisfies (subset clustering), so the explicit repartition
    # REPLACES the distinct's own exchange rather than adding one; the
    # cached relation then enters every round's edge⋈labels join
    # pre-clustered (labels arrive partitioned by node from the previous
    # round's aggregate), removing one |2·edges| exchange per iteration.
    und = _undirected(edges, src, dst).repartition("v").distinct().cache()

    # seed = min(self, neighbors): the first propagation step fused into
    # the init aggregate — star-shaped clusters (the common dedup case)
    # converge immediately, saving one full join round
    labels, ck_rdd = _ckpt(
        und.groupBy(F.col("u").alias("node"))
        .agg(F.min(F.least(F.col("u"), F.col("v"))).alias("component"))
    )
    prev_sum = labels.agg(F.sum("component")).first()[0]

    # the seed action above materialized the edge cache, so its Catalyst
    # stats are now the ACTUAL bytes — size the propagation rounds
    # statically off them and drop AQE's per-round stage-materialization
    # jobs (scale.loop_conf; no-op at cluster volume)
    from dirt_hadoop_similarity_spark.operators.scale import loop_conf

    with loop_conf(edges.sparkSession, und):
        for _ in range(max_iter):
            # neighbor labels flow along edges; keep own label via union
            msgs = und.join(
                labels, und["v"] == labels["node"]
            ).select(F.col("u").alias("node"), "component")
            # each round's checkpoint supersedes the previous round's,
            # whose storage _ckpt releases once the new one has
            # materialized — storage stays O(1) per call, not O(rounds)
            labels, ck_rdd = _ckpt(
                labels.union(msgs)
                .groupBy("node")
                .agg(F.min("component").alias("component")),
                release=ck_rdd,
            )
            new_sum = labels.agg(F.sum("component")).first()[0]
            if new_sum == prev_sum:  # min-propagation monotone; fixpoint
                break
            prev_sum = new_sum
    und.unpersist(blocking=True)
    # the FINAL checkpoint's storage stays: the returned plan reads it.
    # It is freed by the context cleaner once the caller drops the frame.
    return labels


def connected_components_star(edges: DataFrame, src: str = "id_a",
                              dst: str = "id_b",
                              max_iter: int = 25) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): same
    (node, component) output as :func:`connected_components`, but
    provably O(log n) rounds regardless of cluster diameter — the
    variant to use when duplicate graphs can contain long chains
    (plain min-propagation needs ~diameter rounds).

    Per round, two keyed aggregations over the edge relation:

      * LARGE-STAR — for every node u, connect each strictly-larger
        neighbor to min(N(u) ∪ {u}); halves the depth of large subtrees.
      * SMALL-STAR — for every node u over its smaller neighbors,
        connect u and each non-min neighbor to the minimum; flattens
        what large-star left.

    Edges stay canonical (hi, lo) throughout, so every emission
    (v, m) already satisfies v > m and one ``distinct`` canonicalizes
    the round.  Convergence: a 1-row (count, Σ xxhash64(u,v)) edge-set
    fingerprint per round — the star operations reach a fixpoint where
    the edge set is exactly the union of stars rooted at each component
    minimum, and an unchanged fingerprint detects it.  Each round ends
    in ``localCheckpoint`` — unlike ``cache`` it TRUNCATES lineage, which
    otherwise compounds two joins + three distincts per round into an
    exponentially growing logical plan (plain propagation converges in
    1-2 rounds on dedup graphs so cache-swap suffices there; the star
    variant exists for high-diameter graphs where rounds stack up).  On
    a real cluster prefer ``spark.sparkContext.setCheckpointDir`` +
    ``checkpoint()`` so the cut survives executor loss.
    """
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .cache()
    )
    nodes = (
        edges.select(
            F.explode(F.array(F.col(src), F.col(dst))).alias("node")
        )
        .distinct()
        .cache()
    )
    def _fingerprint(df):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s"),
        ).first()
        return (row["n"], row["s"])

    prev = _fingerprint(e)
    ck_rdd = None  # first e is SQL-cached, not checkpointed

    # e's cache just materialized (the fingerprint read it) — size the
    # star rounds statically off its actual bytes (scale.loop_conf;
    # no-op at cluster volume).  `nodes` stays un-materialized until
    # after the loop, so only `e` informs the estimate.
    from dirt_hadoop_similarity_spark.operators.scale import loop_conf

    with loop_conf(edges.sparkSession, e):
        for _ in range(max_iter):
            # LARGE-STAR over the undirected view: m(u) = min(N(u) ∪
            # {u}); each undirected edge {x, y} (x < y) is re-emitted
            # exactly once as (y, m(x)) — by the grouping where it is
            # the larger endpoint
            und = _undirected(e, "u", "v")
            mins = und.groupBy("u").agg(
                F.min(F.least(F.col("u"), F.col("v"))).alias("m")
            )
            # the distinct is load-bearing for dense clusters: every
            # member of a k-clique has its (member, root) edge
            # re-emitted by ~k neighborhoods, so skipping
            # canonicalization here feeds k× duplicates into the
            # small-star stage (measured slower)
            large = (
                und.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
            )
            # SMALL-STAR on the directed (hi, lo) edges: every
            # lo-neighbor and u itself connect to the group minimum
            smins = large.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                large.join(smins, "u")
                .select(
                    F.col("u"),
                    F.col("v"),
                    F.col("m"),
                )
            )
            new_e, new_rdd = _ckpt(
                small.select(F.col("v").alias("u"), F.col("m").alias("v"))
                .union(small.select("u", F.col("m").alias("v")))
                .filter(F.col("u") != F.col("v"))
                .distinct(),
                release=ck_rdd,
            )
            cur = _fingerprint(new_e)
            if ck_rdd is None:
                e.unpersist(blocking=True)  # release the SQL-cached seed
            e, ck_rdd = new_e, new_rdd
            if cur == prev:
                break
            prev = cur

    # at fixpoint every member points only at its root; roots have no
    # outgoing (hi, lo) edge — they label themselves
    members = e.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("component")
    )
    roots = nodes.join(members.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component")
    )
    out = members.union(roots)
    # `e` is now the final checkpoint — the returned plan reads it, so
    # its storage stays until the caller drops the frame (context-cleaner
    # GC).  `nodes` is cheap to recompute; release its cache eagerly
    # (blocking, for deterministic storage accounting).
    nodes.unpersist(blocking=True)
    return out


def _auto_salt(deg: DataFrame, slots: int, salt: int = 8) -> int:
    """The pagerank salt router: salting engages when the max degree
    reaches ``slots`` × the average degree — key_skew_profile's
    straggler rule (a key at N-slots-times-average load serializes one
    stage task).  One aggregate over the already-cached (node, d)
    relation, so the probe is near-free inside pagerank."""
    mx, avg = deg.agg(F.max("d"), F.avg("d")).first()
    return salt if mx is not None and mx >= slots * avg else 0


def _task_slots(spark) -> int:
    """Concurrent reduce-task estimate for the salt router (ADVICE r10).

    ``spark.sql.shuffle.partitions`` alone has two failure modes: the
    conf may be non-numeric ("auto" on some managed deployments), and
    under AQE coalescing the static value can far exceed the tasks that
    actually run at once — a 2048-partition conf on 32 cores still runs
    32-wide, so a key must only reach 32× average load to serialize a
    stage, not 2048×.  ``defaultParallelism`` is the scheduler's own
    numeric slot count, so it caps the estimate (and replaces it when
    the conf fails to parse).  Both failure modes push the same safe
    direction: fewer slots → the router salts MORE eagerly, costing at
    worst the ~1.2× replication overhead on a uniform graph."""
    dp = int(spark.sparkContext.defaultParallelism)
    try:
        conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return dp
    return max(1, min(conf, dp))


def pagerank(edges: DataFrame, src: str = "id_a", dst: str = "id_b",
             iters: int = 5, damping_pct: int = 85,
             scale: int = 1_000_000, salt: int | str = 0) -> DataFrame:
    """Integer-exact PageRank over the undirected pair graph — link
    analysis for duplicate-cluster centrality (which member is the
    best-connected "canonical" doc) and general graph scoring.

    The classic iteration, fully quantized to int64 so every engine
    computes the identical fixed prefix (no float anywhere):

        pr_0(v)     = scale                      (uniform, unnormalized)
        pr_{k+1}(v) = ((100-d)·scale) div 100
                      + (d · Σ_{u~v} (pr_k(u) div deg(u))) div 100

    with d = ``damping_pct``.  Truncating integer division loses a few
    micro-units of mass per hop — the standard price of exactness here
    (the same trade MI/cosine quantization makes); rankings at
    scale=10^6 are indistinguishable from float PageRank.  A fixed
    ``iters`` (not convergence detection) keeps the computation a pure
    function of the graph, so a SQL oracle replays it by unrolling.

    Scale shape: each iteration is one |edges|-keyed join plus a
    node-keyed groupBy-sum (map-side partials); the label relation is
    ``localCheckpoint``-ed per round — same lineage discipline as
    :func:`connected_components`.  (An r16 experiment composed the
    rounds lazily — the rank relation feeds its successor only once, so
    the plan grows linearly — expecting to shave the per-round
    checkpoint jobs; measured WORSE: the un-truncated plan re-enters
    Catalyst/AQE per stage and every round's tasks serialize the
    cumulative lineage, so task-deserialize time grew past what the
    checkpoint jobs cost.  The per-round cut stays.)  Bound:
    damping_pct·N·scale < 2^63
    (a star center can collect ~all mass), so N < ~10^14 / scale.

    ``salt`` > 1 runs each round's rank→edge join as a salted join
    (operators/scale.salted_join: edge side salted, the one-row-per-
    node rank side replicated ``salt`` times), spreading a HUB node's
    edge rows over ``salt`` tasks.  The per-round SMJ otherwise sorts
    every edge of the hottest node in ONE task — measured 1.14-1.58x
    across runs at one hub holding 30% of 5M edges (salted: 1.07-1.10x,
    uniform-graph replication overhead ~1.2x;
    tools/graph_skew_bench.py).  AQE's skew split CANNOT rescue this
    shape at any scale: the edge relation reaches the join as a
    ReusedExchange (the symmetrize+distinct shuffle also feeds the
    degree aggregate) and OptimizeSkewedJoin skips reused stages —
    splitting their partitions would desync the other consumer
    (verified: `skew=true` stays absent even with the skew thresholds
    scaled far below the hot partition's size).  Explicit salting is
    therefore the structural fix for iterative self-referential joins,
    not a local-bench workaround.  Output is bit-for-bit
    identical either way (integer-exact algebra; salting only re-routes
    rows); diagnose with :func:`operators.scale.key_skew_profile` on
    the edge endpoints and pay the ~|nodes|·salt replication only on
    degree-skewed graphs.  ``salt="auto"`` makes that call itself: the
    degree relation is already computed (and cached) for the iteration,
    so the probe is one aggregate over it — salting engages when the
    max degree exceeds slots × average (the key_skew_profile straggler
    rule: a key at N-slots-times-average load serializes one stage
    task), where slots = min(shuffle partitions, defaultParallelism) —
    see :func:`_task_slots` for why the conf alone over- (AQE
    coalescing) or mis-estimates (non-numeric "auto").

    Returns (node, d, pr): node id, degree, final integer PageRank.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 0 <= damping_pct <= 100:
        raise ValueError(f"damping_pct must be in [0,100], got {damping_pct}")
    if salt != "auto" and not isinstance(salt, int):
        raise ValueError(f"salt must be an int or 'auto', got {salt!r}")
    # Pre-partition the cached edge relation by u — the key of BOTH the
    # degree aggregate and every round's contrib⋈edges join (guide
    # §2.4).  distinct() clusters by (u, v), which HashPartitioning(u)
    # satisfies, so this replaces the distinct's exchange instead of
    # stacking one; afterwards deg's groupBy("u") and all ``iters``
    # rank→edge joins read the cache with no further Exchange (the rank
    # side arrives partitioned by node: the checkpoint preserves the
    # left-join output partitioning and the rename keeps the attribute).
    und = _undirected(edges, src, dst).repartition("u").distinct().cache()
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("u").alias("node"), "d"
    ).cache()
    nodes = deg.select("node")
    if salt == "auto":
        salt = _auto_salt(deg, _task_slots(edges.sparkSession))
    base = ((100 - damping_pct) * scale) // 100
    pr = nodes.select("node", F.lit(int(scale)).cast("long").alias("pr"))
    ck_rdd = None
    # Round 1 runs under the session's AQE (it fills the edge/degree
    # caches — the one data-sized step); its checkpoint materializes
    # both, so rounds 2..k can be sized statically off the caches'
    # ACTUAL bytes with AQE's per-round stage-materialization jobs
    # dropped (scale.loop_conf; no-op at cluster volume).
    lc = None
    try:
        for _ in range(iters):
            contrib = pr.join(deg, "node").select(
                F.col("node").alias("u"), F.expr("pr div d").alias("m")
            )
            if salt > 1:
                from dirt_hadoop_similarity_spark.operators.scale import (
                    salted_join,
                )

                routed = salted_join(und, contrib, "u", salt=salt)
            else:
                routed = contrib.join(und, "u")
            msgs = (
                routed.groupBy("v")
                .agg(F.sum("m").alias("c"))
                .select(F.col("v").alias("node"), "c")
            )
            # each round's checkpoint supersedes the previous round's;
            # _ckpt releases the superseded storage once the new one
            # materializes, so a k-round run holds ONE rank relation
            pr, ck_rdd = _ckpt(
                nodes.join(msgs, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(base)
                        + F.expr(f"({damping_pct} * coalesce(c, 0)) div 100")
                    ).cast("long").alias("pr"),
                ),
                release=ck_rdd,
            )
            if lc is None:
                from dirt_hadoop_similarity_spark.operators.scale import (
                    loop_conf,
                )

                lc = loop_conf(edges.sparkSession, und, deg)
                lc.__enter__()
    finally:
        if lc is not None:
            lc.__exit__()
    # the final localCheckpoint materialized pr, so the returned plan no
    # longer references `und` — release its storage now (long sessions
    # would otherwise leak one cached edge relation per call).  `deg`
    # stays cached: the returned lazy join still reads it, and its
    # lineage (distinct over the symmetrized edges) would otherwise
    # re-run the whole union — callers who fully materialize the result
    # may deg.unpersist() themselves.  Blocking so storage accounting is
    # deterministic (one driver RPC, outside any loop).  The final pr
    # checkpoint stays until the caller drops the frame (context GC).
    und.unpersist(blocking=True)
    return pr.join(deg, "node")
