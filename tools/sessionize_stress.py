"""Demonstrate the sessionize straggler and its bucketed fix at the
event concentration where it actually bites.

The x10skew corpus (8 hot users x ~190k events) is far below the
straggler threshold: a window-sessionize task sorts 190k rows in
milliseconds, so plans/queries.sessionize and sessionize_skewsafe tie
there (PERF.md round-9 skew table), and at uniform sf0.1 scale the
window version is outright cheaper — that small-scale verdict is
disclosed, not hidden.

This harness generates the 100 TB-shaped failure case directly: N
synthetic events with fraction ``hot_frac`` belonging to ONE user (a
crawler/bot — at weblog scale, a certainty), timestamps spread over a
year.  The per-user window then serializes hot_frac*N rows through a
single task's sort, while the gap-bucket variant
(operators/scale.sessionize_counts_bucketed) collapses the hot user to
one row per 30-minute bucket per input partition BEFORE the shuffle.
Both outputs are asserted equal before timing is reported.

Run:  python tools/sessionize_stress.py [--events 20000000]
          [--hot-frac 0.8] [--repeats 2]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

YEAR_S = 365 * 24 * 3600


def synth_events(spark, n: int, hot_frac: float, n_cold_users: int = 20000):
    """n events over one year; ``hot_frac`` of them on user 'hot', the
    rest uniform over ``n_cold_users`` users.  Deterministic (hash-based
    jitter, no RNG), generated distributed via range()."""
    return spark.range(n).select(
        F.when(
            (F.col("id") % 1_000_000) < int(hot_frac * 1_000_000),
            F.lit("hot"),
        )
        # pmod, not %: xxhash64 is signed and Spark's % follows the
        # dividend's sign, so a bare modulo would mint BOTH u-123 and
        # u123 — roughly 2x n_cold_users distinct users, halving the
        # documented per-cold-user density (ADVICE r9)
        .otherwise(
            F.concat(F.lit("u"), F.pmod(F.xxhash64("id"), F.lit(n_cold_users)))
        )
        .alias("user_id"),
        F.timestamp_seconds(
            (F.abs(F.xxhash64("id", F.lit(1))) % YEAR_S)
        ).alias("ts"),
        F.col("id").alias("event_id"),
    )


def window_sessionize(ev):
    """plans.queries.sessionize's exact operator (shared implementation
    since round 10 — operators/scale.sessionize_counts_window)."""
    from dirt_hadoop_similarity_spark.operators import scale

    return scale.sessionize_counts_window(ev)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", type=int, default=20_000_000)
    ap.add_argument("--hot-frac", type=float, default=0.8)
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--with-auto", action="store_true",
                    help="also time sessionize_counts_auto (probe + "
                         "routed variant) on the stress corpus")
    ap.add_argument("--spans", action="store_true",
                    help="stress the per-SESSION span family instead "
                         "of the per-user counts: native session_window "
                         "vs session_spans_bucketed (VERDICT r10 task 2)")
    args = ap.parse_args()

    from dirt_hadoop_similarity_spark.operators import scale
    from dirt_hadoop_similarity_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(app_name="dhs-sessionize-stress",
                      master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus),
                      extra_conf={"spark.driver.memory": mem})

    ev = synth_events(spark, args.events, args.hot_frac)

    if args.spans:
        # the per-session family: Spark's built-in session_window
        # (shuffles one user's events into ONE task's sort-merge) vs
        # the gap-bucket span formulation
        hot_fn = lambda df: scale.session_spans_native(df)  # noqa: E731
        safe_fn = lambda df: scale.session_spans_bucketed(df)  # noqa: E731
        auto_fn = lambda df: scale.session_spans_auto(df)  # noqa: E731
        key = lambda r: (r.user_id, r.session_start,  # noqa: E731
                         r.session_end, r.n_events)
        metric = "session_spans_stress"
    else:
        hot_fn = window_sessionize
        safe_fn = lambda df: scale.sessionize_counts_bucketed(df)  # noqa: E731
        auto_fn = lambda df: scale.sessionize_counts_auto(df)  # noqa: E731
        key = lambda r: (r.user_id, r.n_sessions, r.n_events)  # noqa: E731
        metric = "sessionize_stress"

    # correctness first: identical outputs on a 1% slice (full-size
    # equality would just re-run the straggler three times)
    slice_ = synth_events(spark, max(args.events // 100, 100_000),
                          args.hot_frac)
    a = {key(r) for r in hot_fn(slice_).collect()}
    b = {key(r) for r in safe_fn(slice_).collect()}
    assert a == b, "variant outputs diverged on the synthetic corpus"

    # interleave the two variants (same rationale as scale_bench)
    win_s = buck_s = None
    for i in range(args.repeats):
        pair = [("window", hot_fn(ev)), ("bucketed", safe_fn(ev))]
        if i % 2:
            pair.reverse()
        for kind, df in pair:
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            if kind == "window":
                win_s = el if win_s is None else min(win_s, el)
            else:
                buck_s = el if buck_s is None else min(buck_s, el)

    # the self-routing variant, timed once (probe + whichever variant it
    # picks — on a straggler-shaped corpus it must land near bucketed_sec,
    # never near window_sec)
    auto_s = None
    if args.with_auto:
        for _ in range(args.repeats):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            auto_fn(ev).write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            auto_s = el if auto_s is None else min(auto_s, el)

    spark.stop()
    print(json.dumps({
        "metric": metric, "events": args.events,
        "hot_frac": args.hot_frac, "repeats": args.repeats,
        "window_sec": round(win_s, 3), "bucketed_sec": round(buck_s, 3),
        "speedup": round(win_s / max(buck_s, 1e-9), 2),
        "auto_sec": round(auto_s, 3) if auto_s is not None else None,
    }))


if __name__ == "__main__":
    main()
