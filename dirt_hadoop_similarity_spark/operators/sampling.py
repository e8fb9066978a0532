"""Deterministic hash-based sampling and dataset splitting.

Training pipelines need splits and samples that are REPRODUCIBLE across
runs, engines, and partitionings — `rand()` gives none of that (it is
seeded per-partition, so a repartition reshuffles the sample).  The
standard fix is hash bucketing: a stable key is hashed, the hash taken
mod a fixed granularity, and thresholds on the bucket decide membership.
Properties:

  * deterministic: same key -> same split, on any cluster layout;
  * disjoint + exhaustive: thresholds partition the bucket space;
  * consistent across tables: anything sharing the key lands in the
    same split (join-safe — eval never leaks into train via a side
    table);
  * engine-portable: md5 is the hash, so DuckDB/Spark/anything agree
    bit-for-bit (the oracle checks this).

Narrow-waist with the rest of the engine: the hash is
`operators/dedup.hash60` (md5 -> first 60 bits as bigint), the same
primitive MinHash uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators._tracked_cache import CacheTracker
from dirt_hadoop_similarity_spark.operators.dedup import hash60

GRANULARITY = 10_000  # buckets; rates resolve to 0.01%

#: tracked caches (the textsim release_caches contract) — dsir_weights
#: caches two relations its returned lazy plan still reads.
_CACHES = CacheTracker()


def release_caches() -> int:
    """Unpersist every cached relation this module has created since
    the last release (materialize consumers first).  Returns the
    number released."""
    return _CACHES.release()


def split_bucket(key: Column, salt: str = "split") -> Column:
    """Stable bucket in [0, GRANULARITY) for a key column.  ``salt``
    decorrelates independent assignments over the same key (e.g. a
    split assignment and a subsampling decision must not align)."""
    return hash60(F.concat(F.lit(f"{salt}|"), key.cast("string"))) % GRANULARITY


def assign_split(df: DataFrame, key: str, splits: dict[str, float],
                 salt: str = "split") -> DataFrame:
    """Adds a ``split`` column. ``splits`` maps name -> fraction; the
    fractions must sum to 1 (the last split absorbs rounding)."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = split_bucket(F.col(key), salt=salt)
    names = list(splits)
    expr = F.lit(names[-1])
    cum = 0.0
    bounds = []
    for name in names[:-1]:
        cum += splits[name]
        bounds.append((name, int(round(cum * GRANULARITY))))
    for name, bound in reversed(bounds):
        expr = F.when(bucket < bound, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def mixture_resample(df: DataFrame, parts: dict[str, int], group_col: str,
                     key: str, max_repeat: int = 1,
                     salt: str = "mixture") -> DataFrame:
    """Resample to a target group mixture (the pretraining-mix builder:
    "the corpus is 80% web / 5% books, train on 50/20" — e.g. The Pile's
    per-source epoch weights).  ``parts`` gives integer mixture weights
    (relative, need not sum to anything); groups not listed are dropped.
    The output is the LARGEST corpus with that exact mixture in which no
    group repeats more than ``max_repeat`` epochs; a row appears once per
    epoch with an ``epoch`` column (1-based), so ``max_repeat=1`` is
    downsample-only.

    The rates are data-dependent, but everything stays in-plan: a
    column-pruned count pass (k rows out), a 1-row min for the budget,
    and the k-row factor table broadcast back onto the corpus — no
    driver-side arithmetic, no collect.  All derivations are bigint
    ``div`` arithmetic, so Spark and a SQL oracle agree bit-for-bit
    (no float rate ever rounds differently).  Membership of the
    fractional last epoch is the (salt, key) hash bucket of
    :func:`split_bucket`: repartition-proof, and raising a
    group's weight only ever ADDS epochs for a given key.

    A listed group with NO rows in ``df`` cannot constrain the budget
    (the min runs over present groups only) and contributes nothing —
    the realized mixture renormalizes over the present groups (pytest:
    the brute-force property test draws such cases).

    Bound (loud, in-plan): the fractional-epoch arithmetic multiplies a
    remainder < Σparts·n_g by GRANULARITY, so it needs
    Σparts · n_g < 2^63 / GRANULARITY ≈ 9.2e14 for every group — under
    ANSI-off Spark a breach would WRAP silently and corrupt the
    fractional-epoch membership, so the factor computation asserts the
    bound on the k-row counts relation (zero scale cost; same idiom as
    textsim's Σw² guard).  Beyond it, divide ``parts`` by their gcd or
    shard the corpus.  ``max_repeat`` is capped at GRANULARITY so the
    budget products inherit the same bound.
    """
    if not parts:
        raise ValueError("parts must be non-empty")
    for g, p in parts.items():
        if not isinstance(p, int) or isinstance(p, bool) or p <= 0:
            raise ValueError(f"part for {g!r} must be a positive int, got {p!r}")
    if not 1 <= max_repeat <= GRANULARITY:
        raise ValueError(
            f"max_repeat must be in [1, {GRANULARITY}], got {max_repeat}"
        )
    reserved = {"_parts", "_n", "_budget", "_need", "_epochs",
                "_rem_guard", "_rem_bound", "_copies", "epoch"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns collide with reserved names: {sorted(reserved)}"
        )
    s = sum(parts.values())

    part_col = F.lit(None).cast("long")
    for g, p in parts.items():
        part_col = F.when(F.col(group_col) == g, F.lit(p).cast("long")).otherwise(part_col)

    listed = df.filter(F.col(group_col).isin(*parts))
    counts = (
        listed.withColumn("_parts", part_col)
        .groupBy(group_col, "_parts")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    # budget = largest output size whose mixture needs <= max_repeat
    # epochs from every group (the scarcest group binds).
    budget = counts.select(
        F.expr(f"min(_n * {max_repeat} * {s} div _parts)").alias("_budget")
    )
    # Loud overflow guard (zero scale cost: k-row relation).  The
    # remainder below is < s*_n, so remainder * GRANULARITY stays in
    # int64 iff _n <= int64max / (GRANULARITY * s); under ANSI-off a
    # breach would wrap silently.  assert_true yields NULL on success
    # -> coalesce 0 -> identity, spliced into the value so pruning can
    # never elide it (textsim idiom).
    n_bound = ((1 << 63) - 1) // (GRANULARITY * s)
    rem_guard = F.coalesce(
        F.assert_true(
            F.col("_n") <= F.lit(n_bound),
            f"mixture_resample: group count exceeds the int64 bound "
            f"n <= {n_bound} for sum(parts)={s} — divide `parts` by "
            "their gcd or shard the corpus (see docstring)",
        ).cast("long"),
        F.lit(0),
    )
    factors = (
        counts.crossJoin(F.broadcast(budget))
        .withColumn("_need", F.expr("_parts * _budget"))  # units: rows * s
        .withColumn("_epochs", F.expr(f"_need div ({s} * _n)"))
        .withColumn("_rem_guard", rem_guard)  # always 0; raises on breach
        .withColumn(
            "_rem_bound",
            F.expr(
                f"(_need - _epochs * {s} * _n + _rem_guard) "
                f"* {GRANULARITY} div ({s} * _n)"
            ),
        )
        .select(group_col, "_epochs", "_rem_bound")
    )
    gated = (
        listed.join(F.broadcast(factors), group_col)
        .withColumn(
            "_copies",
            F.col("_epochs")
            + F.when(split_bucket(F.col(key), salt=salt) < F.col("_rem_bound"),
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
        )
        # sequence(1, 0) would DESCEND in Spark — gate before exploding
        .filter(F.col("_copies") >= 1)
    )
    return (
        gated.withColumn(
            "epoch", F.explode(F.sequence(F.lit(1).cast("long"), F.col("_copies")))
        )
        .drop("_epochs", "_rem_bound", "_copies")
    )


def temperature_mixture(df: DataFrame, group_col: str, key: str,
                        tau: int = 2, max_repeat: int = 1,
                        salt: str = "temperature") -> DataFrame:
    """Temperature-flattened mixture resampling (the multilingual
    standard — UniMax / mT5-style sampling, arXiv:2304.09151 §3): group
    g's output share is proportional to ``n_g^(1/tau)`` instead of
    ``n_g``, so head languages/sources are downweighted and the tail is
    upweighted without hand-picking per-group weights.  tau=1 keeps the
    natural distribution; tau→∞ approaches uniform.

    This is :func:`mixture_resample`'s exact integer machinery with the
    parts VECTOR derived in-plan from the data: w_g = floor(n_g^(1/tau))
    (≥ 1 whenever the group has rows).  ``tau`` is limited to powers of
    two (2, 4, 8): the exponent then factors into a chain of IEEE-754
    sqrt's — each correctly rounded, hence bit-identical in any engine —
    where a general pow() is NOT portable across libm implementations.
    Everything after the sqrt chain is bigint div arithmetic, and epoch
    membership uses the (salt, key) hash bucket of
    :func:`split_bucket`, so the result is repartition-proof and
    oracle-replayable bit for bit.

    Output: input columns + ``epoch`` (1-based; a row appears once per
    epoch, ``max_repeat=1`` is downsample-only).  Bounds: exactness of
    the floor needs n_g < 2^52; the budget products need
    w_max · n_total · max_repeat · Σw < 2^63, and the fractional-epoch
    remainder is multiplied by GRANULARITY so the BINDING constraint is
    Σw · n_g < 2^63 / GRANULARITY ≈ 9.2e14 per group — asserted loudly
    in-plan on the k-row factor relation (under ANSI-off a breach would
    wrap silently; textsim's Σw² guard idiom).  Beyond it, right-shift
    w by a constant.

    Scale shape: one column-pruned count pass (k rows out), a 1-row Σw
    and a 1-row budget min, the k-row factor table broadcast back onto
    the corpus — no driver arithmetic, no collect, no extra corpus pass.
    """
    if tau not in (2, 4, 8):
        raise ValueError(
            f"tau must be one of 2, 4, 8 (sqrt-chain portability), got {tau}"
        )
    if max_repeat < 1:
        raise ValueError(f"max_repeat must be >= 1, got {max_repeat}")
    reserved = {"_n", "_w", "_s", "_budget", "_need", "_epochs",
                "_rem_guard", "_rem_bound", "_copies", "epoch"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns collide with reserved names: {sorted(reserved)}"
        )

    counts = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    w: Column = F.col("_n").cast("double")
    t = tau
    while t > 1:
        w = F.sqrt(w)
        t //= 2
    counts = counts.withColumn("_w", F.floor(w).cast("long"))
    sums = counts.agg(F.sum("_w").alias("_s"))

    budget = (
        counts.crossJoin(F.broadcast(sums))
        .select(
            F.expr(f"min(_n * {max_repeat} * _s div _w)").alias("_budget")
        )
    )
    # Loud overflow guard (k-row relation, zero scale cost): the
    # remainder below is < _s*_n, so remainder * GRANULARITY stays in
    # int64 iff _n <= (int64max div GRANULARITY) div _s — division
    # form so the check itself cannot overflow.  assert_true yields
    # NULL on success -> coalesce 0 -> identity (textsim idiom).
    rem_guard = F.coalesce(
        F.assert_true(
            F.expr(
                f"_n <= ({(1 << 63) - 1} div {GRANULARITY}) div _s"
            ),
            "temperature_mixture: Σw·n_g exceeds the int64 bound "
            f"2^63/{GRANULARITY} — right-shift w by a constant "
            "(see docstring)",
        ).cast("long"),
        F.lit(0),
    )
    factors = (
        counts.crossJoin(F.broadcast(sums))
        .crossJoin(F.broadcast(budget))
        .withColumn("_need", F.expr("_w * _budget"))  # units: rows * Σw
        .withColumn("_epochs", F.expr("_need div (_s * _n)"))
        .withColumn("_rem_guard", rem_guard)  # always 0; raises on breach
        .withColumn(
            "_rem_bound",
            F.expr(
                f"(_need - _epochs * _s * _n + _rem_guard) "
                f"* {GRANULARITY} div (_s * _n)"
            ),
        )
        .select(group_col, "_epochs", "_rem_bound")
    )
    gated = (
        df.join(F.broadcast(factors), group_col)
        .withColumn(
            "_copies",
            F.col("_epochs")
            + F.when(split_bucket(F.col(key), salt=salt) < F.col("_rem_bound"),
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long")),
        )
        .filter(F.col("_copies") >= 1)
    )
    return (
        gated.withColumn(
            "epoch", F.explode(F.sequence(F.lit(1).cast("long"), F.col("_copies")))
        )
        .drop("_epochs", "_rem_bound", "_copies")
    )


def stratified_sample(df: DataFrame, rates: dict[str, float], group_col: str,
                      key: str, default_rate: float = 0.0,
                      salt: str = "stratified") -> DataFrame:
    """Per-group Bernoulli rates — the source-rebalancing knob of a
    training-data mix (upsample books, downsample boilerplate-heavy web
    crawl).  Same hash-bucket determinism as :func:`split_bucket`;
    the group only selects the THRESHOLD, so a row's fate still depends
    only on (salt, key): tightening a group's rate yields a strict
    subset of its previous sample."""
    for g, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {g!r} must be in [0,1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0,1], got {default_rate}")
    bound = F.lit(int(round(default_rate * GRANULARITY)))
    for g, r in rates.items():
        bound = F.when(
            F.col(group_col) == g, F.lit(int(round(r * GRANULARITY)))
        ).otherwise(bound)
    return df.filter(split_bucket(F.col(key), salt=salt) < bound)


def shard_assignments(df: DataFrame, key: str, num_shards: int,
                      salt: str = "shard") -> DataFrame:
    """Deterministic training-shard layout: every row gets a ``shard``
    in [0, num_shards) and a 1-based ``pos`` within its shard — a
    reproducible global permutation (the "shuffled" epoch order) with
    no corpus-wide sort.

    Shard membership is the usual (salt, key) hash — repartition-proof
    and balanced to within multinomial noise.  Within-shard order is a
    SECOND independent hash (salt ``{salt}|order``), key-tiebroken, so
    order inside a shard is unrelated to shard membership.  The only
    wide op is a per-shard window: the window partitions ARE the
    shards, so ``num_shards`` must scale with the corpus (file-sized
    shards — e.g. ~1e5 shards at 100 TB keeps each window partition
    ~1 GB; never ask 8 shards of a petabyte).
    """
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    from pyspark.sql import Window

    shard = hash60(F.concat(F.lit(f"{salt}|"), F.col(key).cast("string"))) % num_shards
    order = hash60(F.concat(F.lit(f"{salt}|order|"), F.col(key).cast("string")))
    w = Window.partitionBy("shard").orderBy(F.col("_ord"), F.col(key))
    return (
        df.withColumn("shard", shard)
        .withColumn("_ord", order)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .drop("_ord")
    )


def reservoir_per_group(df: DataFrame, group_col: str, k: int, key: str,
                        salt: str = "reservoir") -> DataFrame:
    """Exactly min(k, |group|) rows per group, uniform and deterministic —
    the distributed replacement for a per-group reservoir sample (build
    "200 eval docs per source", "k shots per language") whose random
    tape is the (salt, key) hash, so the same rows are drawn on any
    cluster layout and re-runs are stable.

    Scale shape (two-phase decomposable top-k, never one giant per-group
    sort): phase 1 ranks within (group, input-partition) — partition
    sizes bound every sort, a hot group never lands in one task — and
    keeps k candidates per cell; phase 2 ranks the surviving
    ≤ groups × partitions × k candidates globally per group.  Correct
    under any partitioning: a row outside its cell's top-k by the global
    (hash, key) order cannot be in the group's top-k.

    Adds ``sample_rank`` (1-based position in the group's draw order —
    a prefix property: the k=10 sample is the first 10 of the k=20
    draw, so growing a budget only ever ADDS rows).

    Contract: ``key`` must be unique WITHIN each group — it is the
    random tape and the final tie-break, so duplicate keys would make
    tied rows' ranks partition-order-dependent and silently break the
    determinism and prefix properties.  Uniqueness is the caller's
    responsibility (checking it would force an eager corpus pass
    inside a lazy operator; a doc/vec/row id is the natural key).
    The staging columns ``_rsv``/``_cell``/``_lr`` and the output
    column ``sample_rank`` must not collide with input columns
    (validated — collisions raise).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    reserved = {"_rsv", "_cell", "_lr", "sample_rank"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns collide with reserved names: {sorted(reserved)}"
        )
    from pyspark.sql import Window

    order = hash60(F.concat(F.lit(f"{salt}|"), F.col(key).cast("string")))
    staged = df.withColumn("_rsv", order).withColumn(
        "_cell", F.spark_partition_id()
    )
    w_local = Window.partitionBy(group_col, "_cell").orderBy("_rsv", key)
    w_group = Window.partitionBy(group_col).orderBy("_rsv", key)
    return (
        staged.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= k)
        .withColumn("sample_rank", F.row_number().over(w_group).cast("long"))
        .filter(F.col("sample_rank") <= k)
        .drop("_rsv", "_cell", "_lr")
    )


def cap_per_group(df: DataFrame, group_col: str, cap: int, order_cols,
                  key: str, rank_name: str = "grp_rank") -> DataFrame:
    """Ranked per-group cap: keep the ``cap`` BEST rows of each group
    under the caller's ordering — the keeper-policy complement to
    :func:`reservoir_per_group`'s uniform draw.  The canonical use is
    the RefinedWeb/C4-style per-domain document cap ("no single domain
    dominates the corpus"), ranked by a quality score so the cap keeps
    each domain's best documents rather than a random subset.

    ``order_cols`` is a list of Columns (may carry ``.desc()``); ``key``
    must be unique within each group and is appended ascending as the
    final tiebreak, so the ordering is total and the rank deterministic
    on any cluster layout.  Adds ``rank_name`` (1-based; prefix
    property: raising the cap only ever ADDS rows).

    Scale: the same two-phase decomposable top-k as
    :func:`reservoir_per_group` — phase 1 ranks within (group,
    input-partition) so a hot group never serializes into one task and
    every local sort is bounded by the partition size; phase 2 ranks
    the surviving ≤ partitions × cap candidates per group.  A row
    outside its cell's local top-``cap`` cannot be in the group's
    top-``cap``, so the phases compose exactly.

    Staging columns ``_cell``/``_lr`` and ``rank_name`` must not
    collide with input columns (validated — collisions raise).
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    reserved = {"_cell", "_lr", rank_name} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns collide with reserved names: {sorted(reserved)}"
        )
    from pyspark.sql import Window

    order = list(order_cols) + [F.col(key).asc()]
    staged = df.withColumn("_cell", F.spark_partition_id())
    w_local = Window.partitionBy(group_col, "_cell").orderBy(*order)
    w_group = Window.partitionBy(group_col).orderBy(*order)
    return (
        staged.withColumn("_lr", F.row_number().over(w_local))
        .filter(F.col("_lr") <= cap)
        .withColumn(rank_name, F.row_number().over(w_group).cast("long"))
        .filter(F.col(rank_name) <= cap)
        .drop("_cell", "_lr")
    )


def cell_balanced_sample(vectors: DataFrame, cap: int, bits: int | None = None,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         salt: str = "balance",
                         centroids: DataFrame | None = None,
                         target_cell_rows: int | None = None) -> DataFrame:
    """Cluster-balanced subsampling over an embedding table — the
    topic-flattening stage of curated-pretraining recipes (DataComp-
    style cluster balancing): assign every vector to a sign-LSH cell
    (the same k-means-cluster stand-in contract as
    ``similarity.semantic_dedup``) and draw a uniform deterministic
    reservoir of ``cap`` vectors per cell, so over-represented topic
    clusters are capped while rare clusters survive whole.

    Output: (``id_col``, ``cell``, ``sample_rank``) — rank 1-based in
    the cell's draw order, with :func:`reservoir_per_group`'s prefix
    property (growing the per-cell budget only ever adds vectors).

    Scale: cell assignment is a map-only expression over the first
    ``bits`` coordinates (no payload shuffle); the cap is the two-phase
    decomposable top-k, and only (id, cell, hash) rows ever shuffle —
    never the vectors.

    Cell modes (the same knob family, and the same reason, as
    ``semantic_dedup``'s — a fixed grid's cell count must grow with the
    corpus or rare topics drown in merged cells):

    * DEFAULT (no knob): occupancy-scaled sign grid at
      ``similarity.DEFAULT_TARGET_CELL_ROWS`` expected rows per cell —
      one cheap count() pass picks ``bits`` via
      ``similarity.semantic_dedup_auto_bits``, so the naive call holds
      its per-topic resolution as the corpus grows.
    * explicit ``bits``: fixed sign grid — plan-stable, no count() job;
      the registered oracle query pins this mode.
    * ``target_cell_rows``: occupancy-scaled with an explicit target.
    * ``centroids`` (cell long, cvec array<float> —
      e.g. ``similarity.seed_centroids``): balance
      over TRAINED clusters; assignment routes through
      ``assign_cells_gemm`` (one streaming GEMM pass, still no payload
      shuffle).  Mutually exclusive with the grid knobs.

    Admission contract (shared with the whole vector family): feed
    this a relation already behind :func:`similarity.valid_vectors` —
    a NULL embedding otherwise sign-buckets to cell 0 (every sign
    CASE term falls through to 0) and its reservoir draw displaces
    valid all-negative-sign vectors from that cell's cap.  The gate is
    the caller's because only the caller knows the declared index dim.
    """
    # lazy import: sampling is imported by modules similarity depends on
    from dirt_hadoop_similarity_spark.operators.similarity import (
        DEFAULT_TARGET_CELL_ROWS,
        assign_cells_gemm,
        semantic_dedup_auto_bits,
        sign_bucket,
    )

    if sum(x is not None for x in (centroids, target_cell_rows, bits)) > 1:
        raise ValueError(
            "pass at most one of centroids / target_cell_rows / bits")
    if centroids is not None:
        cells = assign_cells_gemm(vectors, centroids, id_col, vec_col).select(
            F.col(id_col), "cell"
        )
    else:
        if bits is None:
            if target_cell_rows is None:
                target_cell_rows = DEFAULT_TARGET_CELL_ROWS  # scale-safe
            bits = semantic_dedup_auto_bits(vectors.count(), target_cell_rows)
        cells = vectors.select(
            F.col(id_col), sign_bucket(F.col(vec_col), bits).alias("cell")
        )
    return reservoir_per_group(cells, "cell", cap, id_col, salt=salt)


def dsir_weights(docs: DataFrame, is_target: Column, buckets: int = 64,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, arXiv:2302.03169): score every document by how much more
    likely its hashed-unigram features are under a small TARGET
    distribution (e.g. curated/wiki-like text) than under the raw
    corpus, then select high-weight documents.

    Both distributions are bag-of-hashed-tokens with add-1 smoothing
    over ``buckets`` feature buckets; a document's log importance
    weight is sum over its tokens of log(p_target / p_raw).  The
    per-bucket log-ratio is quantized to integer micro-nats BEFORE the
    per-document sum, so the sum is exact integer arithmetic —
    order-independent across partitionings and engines (same trick as
    similarity.quantized_cosine), which is what lets a DuckDB oracle
    value-check it.  ``weight_micro`` > 0 reads "more target-like than
    raw"; feed it to a threshold filter or to ``stratified_sample``
    for the paper's resampling step.

    Scale: ONE tokenize+explode pass, immediately compressed by a
    (doc, bucket) count — map-side combined, so what shuffles is the
    per-doc distinct-bucket mass (≤ ``buckets`` rows per doc), never
    the raw token stream.  Bucket stats reduce from that compressed
    relation; totals close over a 1-row broadcast crossJoin; the
    ``buckets``-row log-ratio table broadcasts back; and the weight is
    a per-doc sum of count × ratio.  Empty-token documents get weight
    0 via the final left join (log-ratio of nothing).

    Output: (doc_id, n_tokens, weight_micro).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    from dirt_hadoop_similarity_spark.functions.textfns import tokens

    toks = docs.select(
        F.col(id_col),
        is_target.alias("is_tgt"),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("w"),
    ).withColumn("b", hash60(F.concat(F.lit("dsir|"), F.col("w"))) % buckets)
    # is_tgt is constant per doc, so grouping by it adds no groups.
    # dcounts feeds three consumers (stats, totals, the weight sum) and
    # Spark's exchange reuse does not unify them across AQE stages —
    # cache at the cut so tokenize+explode runs ONCE (same pattern as
    # mi.py's triples cache; ~64 rows/doc, spill-safe MEMORY_AND_DISK)
    dcounts = _CACHES.track(
        toks.groupBy(id_col, "is_tgt", "b").agg(F.count(F.lit(1)).alias("c"))
    )

    stats = dcounts.groupBy("b").agg(
        F.sum("c").alias("raw_c"),
        F.sum(F.when(F.col("is_tgt"), F.col("c")).otherwise(0)).alias("tgt_c"),
    )
    stats = _CACHES.track(stats)  # `buckets` rows; read twice
    totals = stats.agg(
        F.sum("raw_c").alias("raw_n"), F.sum("tgt_c").alias("tgt_n")
    )
    log_ratio = F.log(
        ((F.col("tgt_c") + 1.0) / (F.col("tgt_n") + float(buckets)))
        / ((F.col("raw_c") + 1.0) / (F.col("raw_n") + float(buckets)))
    )
    lr = stats.crossJoin(F.broadcast(totals)).select(
        "b", F.round(log_ratio * 1_000_000).cast("long").alias("lr_micro")
    )

    doc_w = (
        dcounts.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("lr_micro")).alias("weight_micro"),
        )
    )
    return (
        docs.select(id_col)
        .join(doc_w, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("weight_micro", F.lit(0)).cast("long").alias("weight_micro"),
        )
    )


def budget_waterfill(per_group: DataFrame, budget: int,
                     group_col: str = "source",
                     tokens_col: str = "n_tokens") -> DataFrame:
    """Water-filling token-budget allocation across groups: find the
    level L such that sum_g min(tokens_g, L) = budget, give every group
    min(tokens_g, L) — small sources keep everything, large sources are
    capped at a COMMON level (the standard way to split a training
    budget across sources without letting one crawl dominate; the
    continuous version of what --mixture does with integer epochs).

    Input is the per-group aggregate (group, tokens) — group count is
    assumed small (sources/languages, not documents), so the ordering
    window here is BOUNDED by construction; the corpus-sized groupBy
    that produces the input is the caller's (one partial-agg pass).

    The level has a closed form: with groups sorted ascending and
    prefix sums P, cutting after j full groups gives
    L = (budget - P_j) / (k - j); the valid j is the one where
    t_j <= L < t_(j+1).  Everything is window arithmetic on k rows —
    no iteration, no driver loop.  If budget >= total tokens, no cap
    applies (keep_rate 1 everywhere).

    Output: (group, n_tokens, allocation, keep_rate, capped) —
    ``keep_rate`` feeds :func:`stratified_sample` as the per-group
    rate for the actual down-sampling pass.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from pyspark.sql import Window

    g = per_group.select(
        F.col(group_col), F.col(tokens_col).cast("long").alias("t")
    )
    w = Window.orderBy("t", group_col)
    ranked = g.select(
        group_col, "t",
        F.row_number().over(w).alias("rn"),
        F.sum("t").over(w).alias("p"),
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("k"), F.sum("t").alias("total")
    )
    # candidate level for each row rn: rn-1 groups full below it
    lam = (F.lit(float(budget)) - (F.col("p") - F.col("t")).cast("double")) \
        / (F.col("k") - F.col("rn") + 1).cast("double")
    lw = Window.orderBy("rn")
    level = (
        ranked.crossJoin(F.broadcast(tot))
        .filter(F.col("total") > budget)  # else: no cap
        .withColumn("lam", lam)
        .withColumn("prev_t", F.coalesce(
            F.lag("t").over(lw), F.lit(0)).cast("double"))
        .filter((F.col("lam") < F.col("t"))
                & (F.col("lam") >= F.col("prev_t")))
        .agg(F.min("lam").alias("level"))
    )
    alloc = F.when(
        F.col("level").isNull() | (F.col("t") <= F.col("level")),
        F.col("t").cast("double"),
    ).otherwise(F.col("level"))
    return (
        g.crossJoin(F.broadcast(level))
        .select(
            group_col,
            F.col("t").alias(tokens_col),
            F.round(alloc, 6).alias("allocation"),
            F.round(
                F.when(F.col("t") > 0, alloc / F.col("t")).otherwise(1.0), 6
            ).alias("keep_rate"),
            (F.col("level").isNotNull()
             & (F.col("t").cast("double") > F.col("level"))).alias("capped"),
        )
    )
