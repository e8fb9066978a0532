"""Measure Structured Streaming STATE at scale — the evidence VERDICT r8
task 4 asked for: scale_bench times batch queries, but a streaming
operator's real 100 TB risk is state-store growth, which wall time alone
hides.  This harness drives the two stateful streaming operators with
the largest state classes over a corpus dir and reports, per query:

  * wall seconds for the availableNow-style full replay;
  * output rows;
  * final state rows + state bytes, read from the streaming query's own
    progress metrics (``lastProgress.stateOperators``) — the number that
    must stay watermark-bounded as volume grows.

Queries:
  * ``dedup`` — dropDuplicatesWithinWatermark over a DOUBLED event
    stream (every event delivered twice, the at-least-once shape).
    State = keys within the watermark horizon.  The testdata's event
    times span days while the watermark is sized to the span, so on
    this corpus state holds every key — the WORST case; the measured
    point is that state rows track |events within horizon| exactly and
    never exceed it.
  * ``interval_join`` — the stream-stream purchases-before-errors join;
    state = both sides' rows within the join horizon.
  * ``sessionize`` — the custom applyInPandasWithState session counter
    (VERDICT r9 task 3): state = ONE fixed-width row per user, so rows
    are bounded by |active users|, never event volume.  Measured two
    ways: across the replica corpora (users scale with volume →
    state_rows == distinct_users exactly at every scale), and — the
    sharper leg — on a ``--constant-user-mult`` derived corpus with the
    SAME users and N× the events, where state rows must stay FLAT.

Pass ``--dirs`` base and scaled corpus dirs; ratios print alongside so
"state grows like volume within the horizon, not superlinearly" is a
number, not a claim.

Run:  python tools/stream_state_bench.py \
          [--dirs /root/testdata/sf0.1,/tmp/dhs_scale/x10] [--markdown]
Prints one JSON line (+ optional markdown table for PERF.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _drain(df, name: str, mode: str = "append"):
    """Run a streaming frame to a memory sink until exhausted; return
    (seconds, output_rows, state_rows, state_bytes)."""
    spark = df.sparkSession
    t0 = time.perf_counter()
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        # the LAST progress entry with state operators carries the final
        # store size; processAllAvailable guarantees it exists for a
        # stateful query that saw data
        state_rows = state_bytes = 0
        for p in reversed(q.recentProgress):
            ops = p.get("stateOperators") or []
            if ops:
                state_rows = sum(int(o.get("numRowsTotal", 0)) for o in ops)
                state_bytes = sum(
                    int(o.get("memoryUsedBytes", 0)) for o in ops
                )
                break
    finally:
        q.stop()
    secs = round(time.perf_counter() - t0, 3)
    out_rows = spark.table(name).count()
    spark.catalog.dropTempView(name)
    return secs, out_rows, state_rows, state_bytes


def run_one(spark, sf_dir: str) -> dict:
    from dirt_hadoop_similarity_spark.streaming import events as sev

    res = {}
    doubled = sev.stream_events(spark, sf_dir).unionByName(
        sev.stream_events(spark, sf_dir)
    )
    # watermark sized to the corpus' full span (the registry query's
    # setting): every key is in-horizon → state == |distinct events|,
    # the measured worst case
    s, o, sr, sb = _drain(
        sev.dedup_events(doubled, watermark="30 days"), "ssb_dedup"
    )
    res["dedup"] = {"sec": s, "out_rows": o, "state_rows": sr,
                    "state_bytes": sb}

    s, o, sr, sb = _drain(
        sev.purchases_before_errors(sev.stream_events(spark, sf_dir)),
        "ssb_ivjoin",
    )
    res["interval_join"] = {"sec": s, "out_rows": o, "state_rows": sr,
                            "state_bytes": sb}

    # session windows (VERDICT r9 task 3) — the state class whose
    # growth law differs from both others: applyInPandasWithState keeps
    # ONE fixed-width row per user (last_ts + two counters), so state
    # rows are bounded by |active users|, never by event volume.  The
    # replica corpora scale users WITH volume (gen_scale_corpus shifts
    # user_id per replica), so rows grow with the user count — the
    # measured claim is state_rows == distinct_users EXACTLY at every
    # scale (rows_per_user 1.0), while dedup's state grows with
    # in-horizon EVENTS.
    s, o, sr, sb = _drain(
        sev.sessionize_stateful(sev.stream_events(spark, sf_dir)),
        "ssb_sessionize", mode="update",
    )
    users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    res["sessionize"] = {"sec": s, "out_rows": o, "state_rows": sr,
                         "state_bytes": sb, "distinct_users": users}
    return res


def build_constant_user_events(spark, sf_dir: str, mult: int,
                               out_root: str) -> str:
    """Derive a corpus with the SAME user population and ``mult``× the
    events: each event replicated with a +r-seconds jitter and a shifted
    event_id, user_id untouched.  Isolates the state-growth variable the
    replica corpora can't (they scale users WITH volume)."""
    import glob
    import shutil

    out = os.path.join(out_root, f"const_users_x{mult}")
    # stream_events pathGlob-filters for a FILE literally named
    # events.parquet (the testdata layout), so land exactly one file
    dest = os.path.join(out, "events.parquet")
    if not os.path.isfile(dest):
        from pyspark.sql import functions as F

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        rep = ev.withColumn(
            "_r", F.explode(F.array(*[F.lit(i) for i in range(mult)]))
        )
        build = dest + "_build"
        (
            rep.withColumn(
                "event_id",
                (F.col("event_id") * mult + F.col("_r")).cast("long"),
            )
            .withColumn(
                "ts",
                F.timestamp_seconds(
                    F.col("ts").cast("timestamp").cast("long") + F.col("_r")
                ).cast("timestamp_ntz"),
            )
            .drop("_r")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(build)
        )
        (part,) = glob.glob(os.path.join(build, "part-*.parquet"))
        os.makedirs(out, exist_ok=True)
        shutil.move(part, dest)
        shutil.rmtree(build)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs",
                    default="/root/testdata/sf0.1,/tmp/dhs_scale/x10")
    ap.add_argument("--markdown", action="store_true")
    ap.add_argument("--constant-user-mult", type=int, default=0,
                    help="if > 1, also run the sessionize leg on a "
                         "derived corpus with the FIRST dir's users and "
                         "N x its events (state rows must stay flat)")
    args = ap.parse_args()
    dirs = args.dirs.split(",")

    from dirt_hadoop_similarity_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = get_spark(app_name="dhs-stream-state-bench",
                      master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus),
                      extra_conf={"spark.driver.memory": mem})

    report = {d: run_one(spark, d) for d in dirs}

    const_leg = None
    if args.constant_user_mult > 1:
        from dirt_hadoop_similarity_spark.streaming import events as sev

        cdir = build_constant_user_events(
            spark, dirs[0], args.constant_user_mult, "/tmp/dhs_scale"
        )
        s, o, sr, sb = _drain(
            sev.sessionize_stateful(sev.stream_events(spark, cdir)),
            "ssb_sessionize_const", mode="update",
        )
        users = (
            spark.read.parquet(f"{cdir}/events.parquet")
            .select("user_id").distinct().count()
        )
        const_leg = {"dir": cdir, "mult": args.constant_user_mult,
                     "sec": s, "out_rows": o, "state_rows": sr,
                     "state_bytes": sb, "distinct_users": users}
    spark.stop()
    print(json.dumps({"metric": "stream_state", "dirs": dirs,
                      "report": report,
                      "sessionize_constant_users": const_leg}))
    if args.markdown and len(dirs) == 2:
        base, scaled = dirs
        print()
        print("| query | base s | scaled s | base out | scaled out | "
              "base state rows | scaled state rows | state-row ratio | "
              "base state MiB | scaled state MiB |")
        print("|---|---|---|---|---|---|---|---|---|---|")
        for qn in report[base]:
            b, s = report[base][qn], report[scaled][qn]
            ratio = round(s["state_rows"] / max(b["state_rows"], 1), 2)
            print(f"| {qn} | {b['sec']} | {s['sec']} | {b['out_rows']} | "
                  f"{s['out_rows']} | {b['state_rows']} | "
                  f"{s['state_rows']} | {ratio}x | "
                  f"{round(b['state_bytes'] / 2**20, 1)} | "
                  f"{round(s['state_bytes'] / 2**20, 1)} |")
        for qn in report[base]:
            b, s = report[base][qn], report[scaled][qn]
            if "distinct_users" in b:
                print(f"\nsession-window state law ({qn}): state rows / "
                      f"distinct users = "
                      f"{b['state_rows']}/{b['distinct_users']} at base, "
                      f"{s['state_rows']}/{s['distinct_users']} scaled — "
                      "one fixed-width row per user, independent of "
                      "events per user")
        if const_leg:
            base_sr = report[base]["sessionize"]["state_rows"]
            print(f"constant-user leg (x{const_leg['mult']} events, same "
                  f"users): state rows {base_sr} -> "
                  f"{const_leg['state_rows']}, "
                  f"users {const_leg['distinct_users']}, "
                  f"{const_leg['sec']} s — event volume does not move "
                  "session state")


if __name__ == "__main__":
    main()
