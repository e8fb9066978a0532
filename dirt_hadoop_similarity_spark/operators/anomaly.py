"""Per-key z-score anomaly scoring over a numeric value column — the
monitoring/data-quality primitive (anomalous spend, sensor glitches,
bot bursts) in its train-offline / score-at-ingest decomposition.

Exactness contract (the ``dsir_weights``/``quantized_cosine`` trick):
values are milli-quantized to int64, so the per-key count / sum /
sum-of-squares are EXACT integers — identical on any engine, any
partitioning, any aggregation order.  The z-score is then a FIXED
sequence of correctly-rounded IEEE ops (two sqrts, one multiply, one
divide) on those integers:

    z = (n·m − s) · sqrt(n·(n−1)) / (n · sqrt(n·q − s²))

which equals the textbook (x − mean) / stddev_samp but is bit-portable
where a naive double ``stddev_samp`` aggregation is not (its result
depends on summation order).  DuckDB replays the same expression in the
``event_user_outliers`` oracle and matches bit-for-bit.

int64 bound: the binding term is n·q ≤ n²·max(mv)² with mv = value·1000,
so the joint requirement is n·|value| < ~3e6 per key (e.g. 10k events of
values up to 300, or 1M events of values up to 3).  Larger envelopes:
shrink MILLI or pre-aggregate per key-window before scoring.  Since
round 12 the bound is ASSERTED loudly in-plan on the per-key stats
relation (under ANSI-off a breach previously wrapped silently and the
z-scores came out wrong with no error); the scorer's residual
``n·mv_incoming`` term assumes scored values live in the training
envelope — a scored row with |value| far above anything trained on is
an outlier by inspection before any z-score.

Split shape: :func:`value_stats` is the nightly/offline aggregate (one
partial-agg groupBy, three int64 aggregates per key — persist it as a
small parquet table); :func:`score` joins any batch of rows against the
persisted stats and computes z in the projection — map-side only once
the stats side broadcasts, which it always does (|keys| rows).  This is
the same train-offline / score-at-ingest split as ``operators/lm``:
a micro-batch scored against the fixed stats table gives the same rows
as :func:`score` on the whole input, regardless of batch splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MILLI = 1000  # quantization scale: value -> round(value * MILLI) as int64


def quantized(value_col: F.Column) -> F.Column:
    """Milli-quantized int64 rendering of a double value column."""
    return F.round(value_col * MILLI).cast("long")


def value_stats(rows: DataFrame, key_col: str = "user_id",
                value_col: str = "value") -> DataFrame:
    """Exact per-key moment statistics: (key, n, s, q) with
    n = count, s = Σ milli(value), q = Σ milli(value)² — all int64.

    Keys with n < 2 or zero variance (n·q = s²) are dropped here, at
    train time, so the scorer's arithmetic is total by construction.
    """
    mv = quantized(F.col(value_col))
    agg = (
        # NULL values carry no signal and must not count: without the
        # filter, n counts every row while s/q sum only non-null values
        # — a key with nulls gets a silently deflated mean and inflated
        # variance (both engines agreed because the oracle replayed the
        # same count(*), so no sweep caught it; found by review)
        rows.filter(F.col(value_col).isNotNull())
        .select(F.col(key_col), mv.alias("_mv"))
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_mv").alias("s"),
            F.sum(F.col("_mv") * F.col("_mv")).alias("q"),
            F.max(F.abs(F.col("_mv"))).alias("_mx"),
        )
    )
    # Loud overflow guard on the per-key stats relation (|keys| rows —
    # zero scale cost; textsim's Σw² idiom, spliced into q so pruning
    # can't elide it).  The docstring's n·|value| < ~3e6 envelope was
    # previously documentation-only: under ANSI-off Spark a breach
    # WRAPS q, s² or n·q silently and the z-scores come out wrong with
    # no error.  The four conditions below are exact preconditions for
    # every int64 product in stats+scorer, each checkable without
    # itself overflowing (division forms; 3037000499 = floor(sqrt(
    # int64max)) so a²/s² fit):
    imax = (1 << 63) - 1
    sq = 3_037_000_499
    ok = (
        (F.col("_mx") <= F.lit(sq))
        & (F.col("n") <= F.expr(
            f"{imax} div greatest(_mx * _mx, 1L)"))
        & (F.abs(F.col("s")) <= F.lit(sq))
        & (F.col("n") <= F.expr(f"{imax} div greatest(q, 1L)"))
    )
    q_guarded = F.col("q") + F.coalesce(
        F.assert_true(
            ok,
            "anomaly.value_stats: a key breaches the int64 moment "
            "bound (n·|value| < ~3e6 with MILLI=1000) — shrink MILLI "
            "or pre-aggregate per key-window (see module docstring)",
        ).cast("long"),
        F.lit(0),
    )
    return (
        agg.select(key_col, "n", "s", q_guarded.alias("q"))
        .filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("q") - F.col("s") * F.col("s") > 0)
        )
    )


def score(rows: DataFrame, stats: DataFrame, z_threshold: float = 2.5,
          key_col: str = "user_id", value_col: str = "value",
          id_cols: tuple = ("event_id",)) -> DataFrame:
    """Score rows against a (persisted) stats table; emit rows whose
    |z| ≥ ``z_threshold`` as (id_cols…, key, z) with z rounded to 6 dp.

    An inner join: rows whose key has no stats row (unseen, n < 2, or
    zero variance) are unscorable and drop out — the caller's gate for
    "new key" handling.  The stats side is |keys| rows → broadcast;
    scoring is map-side at any scale.
    """
    mv = quantized(F.col(value_col))
    num = (F.col("n") * mv - F.col("s")).cast("double") \
        * F.sqrt((F.col("n") * (F.col("n") - 1)).cast("double"))
    den = F.col("n").cast("double") \
        * F.sqrt((F.col("n") * F.col("q") - F.col("s") * F.col("s"))
                 .cast("double"))
    return (
        rows.join(F.broadcast(stats), key_col)
        .select(
            *[F.col(c) for c in id_cols],
            F.col(key_col),
            F.round(num / den, 6).alias("z"),
        )
        .filter(F.abs(F.col("z")) >= z_threshold)
    )


def mad_stats(rows: DataFrame, key_col: str = "user_id",
              value_col: str = "value") -> DataFrame:
    """Exact per-key ROBUST statistics: (key, med_mv, mad_mv) — the
    milli-quantized median and median-absolute-deviation.

    The z-score above is the cheap primitive but a single whale event
    inflates the stddev it divides by, masking every other outlier for
    that key; MAD has a 50% breakdown point, so it keeps flagging under
    heavy tails.  Exactness rides the same quantization contract: mv is
    int64, and exact interpolated medians (Spark ``percentile`` /
    DuckDB ``quantile_cont``) of int64s land on the 0.5 grid (then the
    0.25 grid for MAD) — exactly representable doubles, so the fixed
    comparison ``|mv - med| > k * mad`` is engine-portable bit-for-bit
    with NO rounding step anywhere.

    Scale shape: two grouped exact percentiles (sort-based aggregates
    whose groups are per-key, never global) and one key-equi-join
    between them; keys with mad = 0 (over half the values identical)
    are dropped here so the scorer's flag rule is total.
    """
    mv = quantized(F.col(value_col))
    base = rows.select(F.col(key_col), mv.alias("_mv"))
    med = base.groupBy(key_col).agg(
        F.expr("percentile(_mv, 0.5)").alias("med_mv")
    )
    dev = base.join(med, key_col).select(
        F.col(key_col), "med_mv",
        F.abs(F.col("_mv") - F.col("med_mv")).alias("_adev"),
    )
    return (
        dev.groupBy(key_col)
        .agg(
            F.max("med_mv").alias("med_mv"),  # constant per key
            F.expr("percentile(_adev, 0.5)").alias("mad_mv"),
        )
        .filter(F.col("mad_mv") > 0)
    )


def mad_score(rows: DataFrame, stats: DataFrame, k: float = 3.0,
              key_col: str = "user_id", value_col: str = "value",
              id_cols: tuple = ("event_id",)) -> DataFrame:
    """Flag rows with ``|mv - med| > k·mad`` against (persisted) robust
    stats — same train-offline / score-at-ingest split as :func:`score`
    (inner join; keys without stats are unscorable and drop out; stats
    broadcast at |keys| rows)."""
    mv = quantized(F.col(value_col))
    return (
        rows.join(F.broadcast(stats), key_col)
        .filter(F.abs(mv - F.col("med_mv")) > k * F.col("mad_mv"))
        .select(
            *[F.col(c) for c in id_cols],
            F.col(key_col),
            F.col(value_col),
            F.col("med_mv").alias("med_milli"),
            F.col("mad_mv").alias("mad_milli"),
        )
    )
