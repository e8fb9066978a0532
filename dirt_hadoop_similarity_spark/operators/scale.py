"""Scale mechanics: skew handling, static sizing and skew-safe windows.

  * **Salted join** — a hot key (the reference's `have`/`be in` paths, a
    boilerplate shingle, a celebrity user) funnels its entire mass
    through one reducer.  The big skewed side gets a deterministic salt
    column; the small side is replicated ``salt`` times; the join key
    becomes (key, salt).  Replication factor trades memory for
    parallelism.  :func:`key_skew_profile` is the diagnosis before it.
  * **Static sizing** — :func:`static_partitions` picks a shuffle
    partition count from a plan's size estimate for inputs too small to
    repay AQE's per-stage jobs; :class:`loop_conf` applies it in scope.
  * **Skew-safe windows** — exact ntiles, Z-order keys and sessionization
    that never funnel a whole key space through one window partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def salted_join(large: DataFrame, small: DataFrame, key: str,
                salt: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join resilient to hot keys on the large side: the large side
    gets a deterministic per-row salt, the small side is exploded into
    ``salt`` replicas, and the join runs on (key, salt) so one hot key
    spreads over ``salt`` tasks."""
    if how not in ("inner", "left", "left_outer"):
        # right/full would duplicate unmatched small-side replicas
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    big = large.withColumn(
        "_salt", (F.monotonically_increasing_id() % salt).cast("int")
    )
    replicas = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return big.join(replicas, [key, "_salt"], how).drop("_salt")


#: bytes of loop working set per static shuffle partition — the same
#: input-size heuristic AQE's coalescer applies to batch exchanges
#: (advisoryPartitionSizeInBytes-class sizing) and the one
#: plans/queries_analytics._stream_state_partitions already applies to
#: streaming state, reused for driver-loop exchanges
LOOP_BYTES_PER_PARTITION = 32 << 20


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's own size estimate for a relation — no job is run.

    Accurate for plain file scans (file bytes) and for CACHED relations
    AFTER they materialize (the cache manager replaces the estimate with
    the actual in-memory size); wildly inflated for un-materialized
    join/aggregate outputs (measured: a ~10 KB edge relation estimated
    at 64 GB pre-materialization, 10,080 bytes post).  Callers must pass
    either a scan-rooted frame or a materialized cached one.  Returns
    None when the estimate is unreadable."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # py4j/analysis failure — caller degrades to no-op
        return None


def static_partitions(spark: SparkSession, *relations: DataFrame,
                      bytes_hint: int | None = None) -> int | None:
    """The static shuffle-partition count for a small working set, or
    None when AQE should keep deciding.

    One partition per :data:`LOOP_BYTES_PER_PARTITION` of the relations'
    Catalyst size estimates (or of ``bytes_hint``), at least 1.  The
    count is returned only when it lands BELOW the session's
    ``spark.sql.shuffle.partitions``; at or above it, and for an
    unknown/unreadable estimate (Catalyst's default for an unknown
    relation is Long.MaxValue), the answer is None."""
    total = bytes_hint if bytes_hint is not None else 0
    if bytes_hint is None:
        for r in relations:
            b = plan_size_bytes(r)
            if b is None:
                return None
            total += b
    try:
        conf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return None
    derived = max(
        1, (total + LOOP_BYTES_PER_PARTITION - 1) // LOOP_BYTES_PER_PARTITION
    )
    return int(derived) if derived < conf else None


class loop_conf:
    """Scope the session for a fixed-shape iterative driver loop whose
    working set is SMALL (guide §2.6/§5: the per-round cost of these
    loops at low volume is job scheduling + AQE stage materialization,
    not data).

    Derives a static shuffle-partition count from the loop's standing
    relations' Catalyst size estimates (:func:`static_partitions`: one
    partition per 32 MiB — :data:`LOOP_BYTES_PER_PARTITION`, the
    input-size heuristic AQE's coalescer applies), clamped to [1,
    session conf].  When the derived count lands BELOW the session
    conf (a small loop), the scope pins
    ``spark.sql.shuffle.partitions`` to it and disables AQE: every
    exchange inside these loops is explicitly keyed and now statically
    right-sized, so AQE has nothing left to decide — its per-exchange
    stage-materialization job and re-optimization pass are pure fixed
    cost multiplied by the round count (the r16 PageRank profile: 40
    near-empty jobs).  At production volume the estimate saturates at
    the session conf and the scope is a NO-OP — AQE (skew splitting,
    runtime join changes) stays on for the cluster-scale path, so this
    is not a local-mode tuning; it is the same saturation contract as
    the streaming state-partition heuristic the r16 round shipped.

    Unknown/unreadable estimates saturate (Catalyst's default for an
    unknown relation is Long.MaxValue), i.e. fail safe to the no-op.
    try/finally semantics via context manager; the conf mutation is
    scoped exactly like ``_run_stream_to_memory``'s (serial bench/test
    execution documented there)."""

    def __init__(self, spark: SparkSession, *relations: DataFrame,
                 bytes_hint: int | None = None):
        self.spark = spark
        self.parts = static_partitions(spark, *relations, bytes_hint=bytes_hint)

    def __enter__(self):
        self._saved = None
        if self.parts is not None:
            c = self.spark.conf
            self._saved = (
                c.get("spark.sql.shuffle.partitions"),
                c.get("spark.sql.adaptive.enabled"),
            )
            c.set("spark.sql.shuffle.partitions", str(self.parts))
            c.set("spark.sql.adaptive.enabled", "false")
        return self

    def __exit__(self, *exc):
        if self._saved is not None:
            c = self.spark.conf
            c.set("spark.sql.shuffle.partitions", self._saved[0])
            c.set("spark.sql.adaptive.enabled", self._saved[1])
        return False


def key_skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """The diagnosis that precedes salting: the ``top`` hottest keys with
    their frequency, rank, and multiple-of-average-load.

    Scale shape: one partial-aggregated groupBy, a 1-row average
    broadcast, and orderBy+limit (distributed TakeOrdered) BEFORE the
    ranking window — the unpartitioned window only ever sees ``top``
    rows, never the key space.  Read `x_avg` against the executor count:
    a key at 40x average on a 32-slot stage is a straggler; reach for
    `salted_join` (or AQE skew-join for joins).
    """
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    avg = counts.agg(F.avg("n").alias("_avg_n"))
    hot = counts.orderBy(F.desc("n"), F.asc(key)).limit(top)
    w = Window.orderBy(F.desc("n"), F.asc(key))
    return (
        hot.crossJoin(F.broadcast(avg))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            F.col(key).cast("long").alias("key"),
            F.col("n").cast("long").alias("n"),
            "rank",
            F.round(F.col("n") / F.col("_avg_n"), 6).alias("x_avg"),
        )
    )


def _idiv(a: Column, b: Column) -> Column:
    """Spark's integral ``div`` (IntegralDivide): exact truncating int64
    division across the FULL int64 domain — no double round-trip, so
    values past 2^53 (e.g. microsecond epochs ~1.7e18) divide exactly.
    DuckDB's ``//`` on BIGINTs is the oracle-side equivalent for the
    exactly-divisible operands these helpers feed it."""
    return F.call_function("div", a, b)


def _floordiv_long(a: Column, b: int) -> Column:
    """Exact floor division of an int64 column by a positive literal —
    the lm._floordiv construction (truncating ``div``, minus 1 when the
    division was inexact and the dividend negative): identical across
    engines over the FULL int64 domain, floor (not truncate) for
    negative values, and no intermediate that can overflow int64
    (subtract-the-remainder-first underflows near the domain minimum —
    ADVICE r7)."""
    c = F.lit(int(b))
    inexact_neg = ((a % c) != 0) & (a < 0)
    return _idiv(a, c) - F.when(inexact_neg, F.lit(1)).otherwise(F.lit(0))


def exact_ntile(df: DataFrame, n: int, value: str, tiebreak: str,
                out: str = "ntile", coarse: int = 10_000) -> DataFrame:
    """EXACT ``ntile(n) OVER (ORDER BY value, tiebreak)`` without a
    global sort — the scale-safe replacement for the unpartitioned
    window, which serializes the whole relation through ONE task.

    Requirements: ``value`` is int64 (quantize doubles order-preservingly
    first, e.g. money → cents), ``(value, tiebreak)`` is unique per row
    (what makes ntile's output well-defined at all).

    Two-level rank (the lm.perplexity_tiers bucket-spine trick, extended
    from order-statistic THRESHOLDS to a full per-row rank):

      1. rows bucket by ``floor(value / coarse)``; per-bucket counts +
         a cumulative sum over the BUCKET spine (bounded: value-range /
         coarse rows, regardless of corpus size) give each bucket the
         row-mass strictly before it;
      2. a window partitioned BY BUCKET (bounded partitions — never the
         whole relation) ranks rows within their bucket by
         (value, tiebreak); global rank = mass-before-bucket + in-bucket
         rank.

    The ntile label then follows from the rank in closed form: with
    N rows, q = N div n, r = N mod n, the first r tiles hold q+1 rows —
    pure int64 arithmetic, engine-exact.

    Skew caveat: bucket width is by VALUE, so a single value carrying a
    huge share of rows concentrates its bucket (same caveat as
    perplexity_tiers); pick ``coarse`` so value-range/coarse ≫ executor
    count and no single bucket dwarfs the rest.

    Output: input columns + ``out`` (long, 1-based tile index).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if coarse < 1:
        raise ValueError(f"coarse must be >= 1, got {coarse}")
    reserved = {"_b", "_cb", "_before", "_rn", "_n_total", out} & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns collide with reserved names: {sorted(reserved)}"
        )
    v = F.col(value)
    bucketed = df.withColumn("_b", _floordiv_long(v, coarse))

    # level 1: bucket spine — bounded relation, bounded cumsum window
    spine = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_cb"))
    wsp = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    spine = spine.select(
        "_b", F.coalesce(F.sum("_cb").over(wsp), F.lit(0)).alias("_before")
    )

    # level 2: in-bucket rank — partitions are buckets, never the corpus
    win = Window.partitionBy("_b").orderBy(value, tiebreak)
    ranked = (
        bucketed.withColumn("_rn", F.row_number().over(win).cast("long"))
        .join(F.broadcast(spine), "_b")
        .withColumn("_rn", F.col("_before") + F.col("_rn"))
    )

    # closed-form ntile from the 1-based global rank
    nn = df.agg(F.count(F.lit(1)).alias("_n_total"))
    q = _floordiv_long(F.col("_n_total"), n)
    r = F.col("_n_total") - q * n
    boundary = r * (q + 1)  # rows 1..boundary live in the first r tiles
    rank0 = F.col("_rn") - 1
    # (q+1)-sized head tiles, q-sized tail tiles; divisions are of
    # non-negative int64 → truncation == floor, engine-exact (the q=0
    # corner never reaches the tail branch: boundary = N there; the
    # greatest() keeps the untaken branch ANSI-safe anyway)
    head = _idiv(rank0, q + 1) + 1
    tail_rank0 = rank0 - boundary
    tail = r + _idiv(tail_rank0, F.greatest(q, F.lit(1))) + 1
    tile = F.when(F.col("_rn") <= boundary, head).otherwise(tail)
    return (
        ranked.crossJoin(F.broadcast(nn))
        .withColumn(out, tile)
        .drop("_b", "_before", "_rn", "_n_total")
    )


def zvalue(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` of two
    non-negative int columns — bit i of ``a`` lands at position 2i, of
    ``b`` at 2i+1.  Plan-time-unrolled shift/mask expressions, no UDF,
    and pure integer arithmetic, so any engine computes the identical
    key (the DuckDB oracle replays it bit-for-bit)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z.cast("long")


def zorder_frame(df: DataFrame, col_a: str, col_b: str,
                 bits: int = 16) -> DataFrame:
    """Z-order data-clustering key over two integer dimensions — the
    lakehouse layout technique (Delta/Iceberg OPTIMIZE ZORDER): sort or
    range-partition files by the interleaved key and a scan filtered on
    EITHER dimension prunes most files, because the Z-curve keeps both
    dimensions' locality in one linear order (a lexicographic sort
    would prune on the leading column only).

    Each dimension is first normalized to [0, 2^bits) by exact integer
    scaling against its (min, max): ((x − min) · (2^bits − 1)) div
    (max − min) — truncating integer division of non-negative operands,
    identical across engines (no float anywhere).  The min/max scalars
    are a 1-row aggregate broadcast back (the global-scalar pattern),
    so the whole computation is one stats pass + a map-only projection.

    Output: input columns + (zx, zy, zval).  To materialize the
    layout: ``df.repartitionByRange(n, "zval")`` +
    ``sortWithinPartitions("zval")`` + write — range partitioning by
    zval IS the file-level clustering; no global sort materializes.

    Bound: (x − min) · (2^bits − 1) must stay < 2^63 (default 16 bits →
    dimension ranges up to ~1.4e14) — the division itself is Spark's
    integral ``div``, exact over the full int64 domain (no double
    round-trip).  Widen by lowering ``bits`` or pre-scaling the
    dimension.
    """
    if not 1 <= bits <= 26:
        raise ValueError(f"bits must be in [1, 26], got {bits}")
    reserved = {"zx", "zy", "zval", "_mina", "_maxa", "_minb", "_maxb"} \
        & set(df.columns)
    if reserved:
        raise ValueError(
            f"input columns collide with reserved names: {sorted(reserved)}"
        )
    a, b = F.col(col_a).cast("long"), F.col(col_b).cast("long")
    stats = df.agg(
        F.min(a).alias("_mina"), F.max(a).alias("_maxa"),
        F.min(b).alias("_minb"), F.max(b).alias("_maxb"),
    )
    top = F.lit((1 << bits) - 1)

    def scaled(x: Column, mn: Column, mx: Column) -> Column:
        rng = mx - mn
        num = (x - mn) * top
        # num >= 0, so truncating div == floor; exact over full int64
        exact = _idiv(num, F.greatest(rng, F.lit(1)))
        return F.when(rng > 0, exact).otherwise(F.lit(0)).cast("long")

    out = df.crossJoin(F.broadcast(stats))
    zx = scaled(a, F.col("_mina"), F.col("_maxa"))
    zy = scaled(b, F.col("_minb"), F.col("_maxb"))
    return (
        out.withColumn("zx", zx)
        .withColumn("zy", zy)
        .withColumn("zval", zvalue(F.col("zx"), F.col("zy"), bits))
        .drop("_mina", "_maxa", "_minb", "_maxb")
    )


def sessionize_counts_window(events: DataFrame, user_col: str = "user_id",
                             ts_col: str = "ts", id_col: str = "event_id",
                             gap_minutes: int = 30) -> DataFrame:
    """Per-user ``(n_sessions, n_events)`` via the classic lag-window
    formulation — THE semantic spec both other variants must match
    (and the shape the registry oracle mirrors in SQL).

    Scale shape: one per-user window (partition-by-user sort) + one
    partial-agg groupBy.  Cheapest on uniform traffic; on a corpus
    where one user is task-sort-sized (a crawler at weblog scale) the
    window serializes that user through a single task — route such
    corpora to :func:`sessionize_counts_bucketed`, or let
    :func:`sessionize_counts_auto` probe and decide.
    """
    if int(gap_minutes) <= 0:
        raise ValueError(
            f"gap_minutes must be positive, got {gap_minutes!r}"
        )
    # drop-null-event-time contract (round 13): an event with no
    # timestamp cannot be placed in any session.  Spark's native
    # event-time operators (session_window, window()) drop such rows;
    # without this filter the lag window ORDERS them (NULLS FIRST,
    # where DuckDB sorts NULLS LAST — the engines diverge) and each
    # null-ts row starts a phantom session.
    events = events.filter(F.col(ts_col).isNotNull())
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    lag_ts = F.lag(ts_col).over(w)
    # Interval arithmetic works for both TIMESTAMP and TIMESTAMP_NTZ
    # inputs (the parquet `ts` column infers as NTZ under Spark 4) and
    # is timezone-free, matching the oracle's naive `ts - lag(ts)`.
    new_session = F.when(
        lag_ts.isNull()
        | (
            F.col(ts_col) - lag_ts
            > F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")
        ),
        1,
    ).otherwise(0)
    return (
        events.select(user_col, new_session.alias("_new_session"))
        .groupBy(user_col)
        .agg(
            F.sum("_new_session").cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# The measured window-vs-bucketed crossover on local[32] (PERF.md round
# 9, tools/sessionize_stress.py): below ~2M events for the hottest user
# the plain window's single-task sort is still cheap and the bucket
# relation's extra groupBy costs more than it saves; above it the
# window task becomes the straggler (31-49x at 16-40M hot-user events).
SESSIONIZE_HOT_USER_EVENTS = 2_000_000


def _max_user_events(events: DataFrame, user_col: str,
                     user_counts: DataFrame | None = None) -> int | None:
    """The sessionize-router probe: the hottest user's event count.

    Without ``user_counts`` this is one map-side-combined count
    (groupBy user → max) — the hot user collapses to one row per input
    partition before the shuffle, so the probe itself cannot straggle;
    cost is one scan of ``events``.  ``user_counts`` (any relation
    with the user column and a ``count`` column — the
    ``groupBy().count()`` shape a key_skew_profile run or yesterday's
    profiling table already holds) drops the extra events scan: the max
    is probed over the (typically tiny, often cached) counts relation
    instead."""
    if user_counts is not None:
        if "count" not in user_counts.columns:
            raise ValueError(
                "user_counts needs a `count` column (the "
                "groupBy(user).count() shape), got columns "
                f"{user_counts.columns}"
            )
        if user_col not in user_counts.columns:
            raise ValueError(
                f"user_counts must be keyed on {user_col!r} (the same "
                "user column being sessionized) so its per-key counts "
                f"describe this traffic; got columns {user_counts.columns}"
            )
        count_type = dict(user_counts.dtypes)["count"]
        if count_type not in ("tinyint", "smallint", "int", "bigint",
                              "float", "double") and \
                not count_type.startswith("decimal"):
            raise ValueError(
                "user_counts.count must be numeric — max() over a "
                f"{count_type} column compares lexically and would "
                "silently mis-route (ADVICE r11)"
            )
        probe = user_counts.agg(F.max("count").alias("_mx"))
    else:
        probe = (
            events.groupBy(user_col)
            .agg(F.count(F.lit(1)).alias("_n"))
            .agg(F.max("_n").alias("_mx"))
        )
    row = probe.first()
    return row["_mx"] if row is not None else None


def sessionize_counts_auto(events: DataFrame, user_col: str = "user_id",
                           ts_col: str = "ts", id_col: str = "event_id",
                           gap_minutes: int = 30,
                           hot_user_events: int = SESSIONIZE_HOT_USER_EVENTS,
                           user_counts: DataFrame | None = None,
                           ) -> DataFrame:
    """Self-routing sessionization (VERDICT r9 task 2): probe the
    hottest user's event count, then pick the variant — the window
    formulation on uniform traffic, the gap-bucket formulation when any
    single user is task-sort-sized.  Both variants are exactly
    equivalent semantically (same oracle), so routing changes only the
    physical plan.

    The probe is one map-side-combined count (groupBy user → max), the
    same partial-aggregation shape :func:`key_skew_profile` uses — it
    collapses the hot user to one row per input partition before the
    shuffle, so the probe itself cannot straggle.  Cost: one extra scan
    of ``events``; worth paying when the skew profile is unknown
    (callers that already know their corpus call a variant directly).

    ``hot_user_events`` defaults to the measured crossover
    (:data:`SESSIONIZE_HOT_USER_EVENTS`); tune per cluster — the real
    threshold is "would sorting this many rows in ONE task straggle
    the stage", a function of task memory and the timestamp width.

    ``user_counts`` (VERDICT r10 task 6) drops the probe's extra
    events scan for callers that already hold a per-user event count
    (one 1-row ``first()`` job on the counts relation still runs) — a
    :func:`key_skew_profile` run, a prior ``groupBy(user).count()``,
    or yesterday's profiling table.  Pass any relation with the user
    column and a ``count`` column (the ``groupBy().count()`` shape);
    the router then probes ``max(count)`` over that (typically tiny,
    often cached) relation instead of re-scanning ``events``.  The
    counts only steer ROUTING — an approximate or slightly stale count
    can at worst pick the slower-but-correct variant, never change the
    output (both variants share one semantic spec and oracle).
    """
    mx = _max_user_events(events, user_col, user_counts)
    if mx is not None and mx >= int(hot_user_events):
        return sessionize_counts_bucketed(
            events, user_col=user_col, ts_col=ts_col,
            gap_minutes=gap_minutes,
        )
    return sessionize_counts_window(
        events, user_col=user_col, ts_col=ts_col, id_col=id_col,
        gap_minutes=gap_minutes,
    )


def sessionize_counts_bucketed(events: DataFrame, user_col: str = "user_id",
                               ts_col: str = "ts",
                               gap_minutes: int = 30) -> DataFrame:
    """Per-user ``(n_sessions, n_events)`` with EXACTLY the semantics of
    the lag-window sessionization (plans.queries.sessionize), computed
    without ever co-locating one user's full event history in a task.

    The window formulation partitions by user, so one hot user (a
    crawler emitting millions of events — at 100 TB weblog scale, a
    certainty) serializes into a single straggler task; PERF.md's
    round-9 skew table measures the penalty at ~1.9× with just 50% of
    events on 8 users.  This variant tumbles time into buckets exactly
    one gap wide (``floor(epoch / gap)``):

      * two events in the same bucket are STRICTLY less than one gap
        apart (bucket width == gap), so no event with a same-bucket
        predecessor can ever start a session;
      * therefore only each (user, bucket)'s FIRST event is a session-
        start candidate, and its verdict needs only the PREVIOUS
        bucket's max timestamp — an empty previous bucket means the
        nearest earlier event is necessarily more than a gap away.

    Cost shape: one groupBy (user, bucket) whose map-side partial
    aggregation collapses the hot user to one row per bucket per input
    partition BEFORE the shuffle, then one per-user window + sum over
    the BUCKET relation — which is time-bounded (a year of events is
    ~17.5k bucket rows per user at a 30-minute gap, regardless of event
    count), so the per-user partition that made the raw-event window a
    straggler is harmless here.  A previous non-empty bucket that is
    not ADJACENT implies a gap greater than one bucket width by
    construction, so only adjacent-bucket neighbors need the exact
    interval comparison.

    Routing guidance: on a corpus with no hot users this variant costs
    ~2-3x the plain window (the bucket relation stays near event
    cardinality when every user is sparse); diagnose first with
    :func:`key_skew_profile` and use this variant when any single
    user's event count is task-sort-sized (tools/sessionize_stress.py
    measures the crossover: 20x faster at 20M events with one 80%%
    user, 41x at 50M).

    Tie/boundary semantics match the window version exactly: equal
    timestamps always share a bucket (gap 0 → same session), and a gap
    of exactly ``gap_minutes`` does NOT start a session (strict ``>``,
    applied with the same interval arithmetic on the un-truncated
    timestamps).
    """
    per_bucket = _session_bucket_flags(events, user_col, ts_col, gap_minutes)
    return (
        per_bucket.select("_u", "_starts", "_n")
        .groupBy(F.col("_u").alias(user_col))
        .agg(
            F.sum("_starts").cast("long").alias("n_sessions"),
            F.sum("_n").alias("n_events"),
        )
    )


def _session_bucket_flags(events: DataFrame, user_col: str, ts_col: str,
                          gap_minutes: int) -> DataFrame:
    """The gap-bucket collapse both skew-immune sessionizers share:
    ``(_u, _bucket, _n, _min_ts, _max_ts, _starts)`` — one row per
    (user, gap-wide time bucket) with the bucket's event count, exact
    min/max timestamps, and a 1-flag when the bucket's first event
    starts a new session.

    The map-side partial aggregation collapses a hot user to one row
    per bucket per input partition BEFORE the shuffle — the whole
    point of the family; every window downstream runs over this
    time-bounded relation, never over raw events.  Correctness
    invariants (proofs in :func:`sessionize_counts_bucketed`'s
    docstring): same-bucket events are always < gap apart (width ==
    gap); a non-adjacent previous bucket implies a gap strictly over
    the threshold; adjacent buckets get the exact interval comparison
    on the un-truncated timestamps, so the strict-> boundary rule is
    preserved to the microsecond."""
    from dirt_hadoop_similarity_spark.session import require_fixed_offset_tz

    require_fixed_offset_tz(events.sparkSession)
    if int(gap_minutes) <= 0:
        raise ValueError(
            f"gap_minutes must be positive, got {gap_minutes!r}: a "
            "non-positive gap degenerates the bucket grid (and the "
            "session semantics it mirrors are undefined)"
        )
    gap_s = int(gap_minutes) * 60
    # NTZ or TZ input both reduce to epoch seconds under the session's
    # fixed-offset zone (guarded above); a constant offset shifts every
    # bucket boundary uniformly, so the grid stays gap-aligned.  The
    # second-level truncation is safe: it can only move two same-bucket
    # events closer, never push a < gap pair into different-bucket
    # territory without the exact interval check below re-deciding it.
    # _floordiv_long keeps the grid in pure int64 arithmetic — floor
    # (not truncate) for pre-1970 timestamps, and no double round-trip
    # that could misplace a bucket edge at extreme epochs (ADVICE r9).
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    # drop-null-event-time contract (round 13, ADVICE r12): a null ts
    # landed in a NULL gap-bucket and emitted a phantom
    # (user, NULL, NULL, n) session per user — the native
    # session_window twin drops such rows, and the bucketed==native
    # invariant requires both routes to share that contract.
    per_bucket = (
        events.filter(F.col(ts_col).isNotNull())
        .groupBy(
            F.col(user_col).alias("_u"),
            _floordiv_long(epoch, gap_s).alias("_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(ts_col).alias("_min_ts"),
            F.max(ts_col).alias("_max_ts"),
        )
    )
    wb = Window.partitionBy("_u").orderBy("_bucket")
    prev_bucket = F.lag("_bucket").over(wb)
    prev_max = F.lag("_max_ts").over(wb)
    starts = F.when(
        prev_bucket.isNull()
        # a previous NON-ADJACENT non-empty bucket leaves at least one
        # whole empty bucket between: prev_max < (b-1)*gap <= min_ts -
        # gap, so the time gap strictly exceeds the threshold
        | (prev_bucket != F.col("_bucket") - 1)
        | (
            F.col("_min_ts") - prev_max
            > F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")
        ),
        1,
    ).otherwise(0)
    return per_bucket.withColumn("_starts", starts)


def session_spans_native(events: DataFrame, user_col: str = "user_id",
                         ts_col: str = "ts",
                         gap_minutes: int = 30) -> DataFrame:
    """One row PER SESSION via Spark's built-in session_window:
    ``(user, session_start, session_end, n_events)`` with start = first
    event, end = last event + gap (timestamps in the input column's
    type).  Boundary rule: a gap of exactly ``gap_minutes`` MERGES —
    probed and pinned against the hand-rolled family's strict-> rule.

    Scale shape: the session-window aggregate shuffles on ``user`` and
    merges one user's sessions inside ONE task's sort — the same
    per-user co-location that makes the lag-window sessionizer a
    straggler on a hot-user corpus (measured ~5x at just 5M events with
    an 80% user, tools/sessionize_stress.py --spans).  Route
    such corpora to :func:`session_spans_bucketed`, or let
    :func:`session_spans_auto` probe and decide."""
    if int(gap_minutes) <= 0:
        raise ValueError(
            f"gap_minutes must be positive, got {gap_minutes!r}"
        )
    w = F.session_window(F.col(ts_col), f"{int(gap_minutes)} minutes")
    return (
        events.groupBy(F.col(user_col), w.alias("_w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            user_col,
            F.col("_w.start").alias("session_start"),
            F.col("_w.end").alias("session_end"),
            "n_events",
        )
    )


def session_spans_bucketed(events: DataFrame, user_col: str = "user_id",
                           ts_col: str = "ts",
                           gap_minutes: int = 30) -> DataFrame:
    """:func:`session_spans_native`'s exact semantics — one row per
    session with (start, end = last + gap, n_events) — computed over
    the gap-bucket collapse, so a hot user's raw events are never
    co-located in one task (VERDICT r10 task 2: the native operator
    measured a ~5x hot-user straggler; this is the same mitigation
    sessionize_counts_bucketed applies to the counts shape).

    On top of the shared :func:`_session_bucket_flags` relation the
    span identity is a per-user running sum of the new-session flags
    (a window over the time-bounded BUCKET relation), and each span
    aggregates its buckets' exact min/max timestamps — so boundaries
    are microsecond-exact even though the grid is second-granular.
    Output is asserted equal to the native operator by
    tests/test_scale.py and tools/sessionize_stress.py before any
    timing is reported."""
    per_bucket = _session_bucket_flags(events, user_col, ts_col, gap_minutes)
    wrun = (
        Window.partitionBy("_u")
        .orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = per_bucket.select(
        "_u", "_n", "_min_ts", "_max_ts",
        F.sum("_starts").over(wrun).alias("_span"),
    )
    return (
        spans.groupBy(F.col("_u").alias(user_col), F.col("_span"))
        .agg(
            F.min("_min_ts").alias("session_start"),
            (
                F.max("_max_ts")
                + F.expr(f"INTERVAL {int(gap_minutes)} MINUTES")
            ).alias("session_end"),
            F.sum("_n").alias("n_events"),
        )
        .drop("_span")
    )


def session_spans_auto(events: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts", gap_minutes: int = 30,
                       hot_user_events: int = SESSIONIZE_HOT_USER_EVENTS,
                       user_counts: DataFrame | None = None) -> DataFrame:
    """Self-routing per-session spans: the built-in session_window on
    uniform traffic, the gap-bucket formulation when any single user is
    task-sort-sized — the :func:`sessionize_counts_auto` discipline
    applied to the span shape (same probe, same crossover default,
    same scan-skipping ``user_counts`` escape hatch — the probe still
    runs one 1-row job over the counts relation)."""
    mx = _max_user_events(events, user_col, user_counts)
    if mx is not None and mx >= int(hot_user_events):
        return session_spans_bucketed(
            events, user_col=user_col, ts_col=ts_col,
            gap_minutes=gap_minutes,
        )
    return session_spans_native(
        events, user_col=user_col, ts_col=ts_col, gap_minutes=gap_minutes,
    )
