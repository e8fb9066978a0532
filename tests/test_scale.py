"""Scale-mechanics tests: salting preserves results; static sizing,
skew-safe windows and sessionization keep their plans and values."""

import pytest
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators import scale


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key carrying 90% of rows
    hot = spark.range(9000).select(
        F.lit("hot").alias("k"), F.lit(1.0).alias("v")
    )
    cold = spark.range(1000).select(
        F.concat(F.lit("cold"), (F.col("id") % 50).cast("string")).alias("k"),
        F.lit(2.0).alias("v"),
    )
    return hot.unionByName(cold)


def test_salted_join_matches_plain(skewed, spark):
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"cold{i}", f"C{i}") for i in range(50)],
        ["k", "label"],
    )
    plain = (
        skewed.join(dim, "k").groupBy("label").agg(F.sum("v").alias("s"))
    )
    salted = (
        scale.salted_join(skewed, dim, "k")
        .groupBy("label")
        .agg(F.sum("v").alias("s"))
    )
    assert {tuple(r) for r in plain.collect()} == {
        tuple(r) for r in salted.collect()
    }


def test_key_skew_profile_values_and_bounded_window(spark):
    df = spark.createDataFrame(
        [(1,)] * 50 + [(2,)] * 30 + [(i, ) for i in range(3, 23)],
        "k long",
    )
    prof = scale.key_skew_profile(df, "k", top=3)
    rows = {r.rank: r for r in prof.collect()}
    assert [rows[i].key for i in (1, 2, 3)] == [1, 2, 3]
    assert rows[1].n == 50 and rows[2].n == 30 and rows[3].n == 1
    # 22 keys, 100 rows -> avg 100/22
    assert rows[1].x_avg == pytest.approx(50 / (100 / 22), abs=1e-6)
    # the ranking window must sit ABOVE the top-k limit, never on the
    # full key space
    plan = prof._jdf.queryExecution().optimizedPlan().toString()
    w_pos = plan.index("Window")
    assert "GlobalLimit" in plan[w_pos:], plan


class TestZOrder:
    def test_zvalue_hand_interleave(self, spark):
        from dirt_hadoop_similarity_spark.operators import scale

        df = spark.createDataFrame([(5, 3)], ["a", "b"])
        got = df.select(
            scale.zvalue(F.col("a"), F.col("b"), bits=3).alias("z")
        ).first()["z"]
        # a=101, b=011 -> z bits (b2 a2 b1 a1 b0 a0) = 011011 = 27
        assert got == 27

    def test_quadrant_blocks_are_contiguous(self, spark):
        # the defining Z-curve property: on a 4x4 grid (2 bits), each
        # 2x2 quadrant occupies one contiguous zval block of 4
        from dirt_hadoop_similarity_spark.operators import scale

        pts = [(x, y) for x in range(4) for y in range(4)]
        df = spark.createDataFrame(pts, ["x", "y"])
        rows = df.select(
            "x", "y", scale.zvalue(F.col("x"), F.col("y"), bits=2).alias("z")
        ).collect()
        assert sorted(r["z"] for r in rows) == list(range(16))
        for r in rows:
            quadrant = (r["x"] // 2) + 2 * (r["y"] // 2)
            assert r["z"] // 4 == quadrant

    def test_zorder_frame_scaling_and_degenerate_range(self, spark):
        from dirt_hadoop_similarity_spark.operators import scale

        df = spark.createDataFrame(
            [(1, 0, 7), (2, 100, 7), (3, 50, 7)], ["id", "v", "w"])
        out = {r["id"]: r for r in
               scale.zorder_frame(df, "v", "w", bits=4).collect()}
        assert out[1]["zx"] == 0 and out[2]["zx"] == 15
        assert out[3]["zx"] == 7  # 50*15/100 = 7.5 -> floor 7
        assert all(r["zy"] == 0 for r in out.values())  # zero range -> 0
        with pytest.raises(ValueError, match="bits"):
            scale.zorder_frame(df, "v", "w", bits=0)

    def test_zorder_stable_under_repartition(self, spark, sf_dir):
        from dirt_hadoop_similarity_spark.operators import scale

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.col("n_chars").cast("long").alias("nc"))
        a = {(r["doc_id"], r["zval"]) for r in scale.zorder_frame(
            docs, "doc_id", "nc", bits=8).collect()}
        b = {(r["doc_id"], r["zval"]) for r in scale.zorder_frame(
            docs.repartition(13), "doc_id", "nc", bits=8).collect()}
        assert a == b


class TestExactNtile:
    """exact_ntile must reproduce the builtin ntile() row-for-row while
    keeping every unpartitioned window off corpus-sized relations."""

    def _reference(self, spark, rows, n):
        from pyspark.sql import Window as W

        df = spark.createDataFrame(rows, "v long, t long")
        w = W.orderBy("v", "t")
        return {
            (r.v, r.t): r.q
            for r in df.select(
                "v", "t", F.ntile(n).over(w).cast("long").alias("q")
            ).collect()
        }

    @pytest.mark.parametrize("n,nrows", [(4, 97), (3, 30), (7, 5), (1, 13)])
    def test_matches_builtin_ntile(self, spark, n, nrows):
        import random

        rng = random.Random(42 + n * 1000 + nrows)
        # negative values + heavy ties exercise the floor-div bucketing
        # and the tiebreak path; tiny coarse forces many buckets
        rows = [
            (rng.randint(-50, 50), t) for t in range(nrows)
        ]
        expected = self._reference(spark, rows, n)
        df = spark.createDataFrame(rows, "v long, t long")
        got = {
            (r.v, r.t): r.q
            for r in scale.exact_ntile(
                df, n, value="v", tiebreak="t", out="q", coarse=7
            ).collect()
        }
        assert got == expected

    def test_reserved_column_collision_raises(self, spark):
        df = spark.range(3).select(F.col("id").alias("v"),
                                   F.col("id").alias("_rn"))
        with pytest.raises(ValueError, match="reserved"):
            scale.exact_ntile(df, 2, value="v", tiebreak="_rn")

    def test_ntile_quartiles_no_corpus_single_partition_window(
        self, spark, sf_dir
    ):
        """The rewritten ntile_quartiles query: every Exchange
        SinglePartition in the executed plan feeds either the bounded
        bucket spine or a scalar aggregate — never the customer rows
        themselves (no c_custkey may reach a single-partition exchange)."""
        from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401
        from dirt_hadoop_similarity_spark.plans.queries import QUERIES

        df = QUERIES["ntile_quartiles"].fn(spark, sf_dir)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        blocks = [
            b for b in formatted.split("\n\n")
            if ") Exchange" in b.split("\n", 1)[0]
            and "SinglePartition" in b
        ]
        for block in blocks:
            input_line = next(
                ln for ln in block.splitlines() if ln.startswith("Input")
            )
            assert "c_custkey#" not in input_line, block
            assert "c_acctbal#" not in input_line, block
        # and the builtin corpus-wide ntile must be gone entirely
        assert "ntile(" not in formatted, formatted


def test_floordiv_long_exact_past_2_53(spark):
    """VERDICT r6 ADVICE (medium): the old double-round-trip division was
    off by one past 2^53 — microsecond-epoch magnitudes (~1.7e18) are
    inside the advertised int64 domain and must bucket exactly."""
    vals = [
        (1 << 62) + 2,          # double path truncates this /2 wrong
        1_700_000_000_000_000_000,   # microsecond epoch, year 2023
        -((1 << 62) + 6),
        (1 << 53) + 1,
        -3, 0, 7,
        # ADVICE r7: the subtract-remainder-first spelling underflowed
        # int64 here (a - pm < int64 min); the div-then-correct spelling
        # must floor exactly at the domain boundary, ANSI or not
        -(1 << 63),
        -(1 << 63) + 1,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    for c in (2, 3, 1_000_000):
        got = {
            r.v: r.q
            for r in df.select(
                "v", scale._floordiv_long(F.col("v"), c).alias("q")
            ).collect()
        }
        want = {v: v // c for v in vals}  # Python // is floor division
        assert got == want, f"coarse={c}"
    # and under ANSI mode (where an internal overflow would RAISE, not
    # wrap) the same values still divide
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        got = {
            r.v: r.q
            for r in df.select(
                "v", scale._floordiv_long(F.col("v"), 7).alias("q")
            ).collect()
        }
        assert got == {v: v // 7 for v in vals}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_exact_ntile_on_microsecond_epoch_values(spark):
    """exact_ntile over values where the old bucketing math loses bits:
    the tile assignment must match a brute-force rank-based replica."""
    base = 1_700_000_000_000_000_000
    rows = [(base + i * ((1 << 40) + 7), i) for i in range(23)]
    df = spark.createDataFrame(rows, "v long, t long")
    out = {
        (r.v, r.t): r.q
        for r in scale.exact_ntile(
            df, 4, value="v", tiebreak="t", out="q", coarse=(1 << 41)
        ).collect()
    }
    ordered = sorted(rows)
    n, k = len(rows), 4
    q, rem = divmod(n, k)
    want = {}
    for rank0, (v, t) in enumerate(ordered):
        boundary = rem * (q + 1)
        if rank0 < boundary:
            want[(v, t)] = rank0 // (q + 1) + 1
        else:
            want[(v, t)] = rem + (rank0 - boundary) // q + 1
    assert out == want


class TestSessionizeBucketed:
    """sessionize_counts_bucketed must equal the per-user lag-window
    sessionization EXACTLY — including the boundary semantics a bucket
    scheme could plausibly get wrong (gap of exactly 30 min, ties,
    bucket-edge neighbors, empty intermediate buckets)."""

    GAP_MIN = 30

    def _window_reference(self, spark, rows):
        """The lag-window spec, computed independently in Python."""
        out = {}
        byuser: dict = {}
        for u, ts, eid in rows:
            byuser.setdefault(u, []).append((ts, eid))
        for u, evs in byuser.items():
            evs.sort()
            n_sessions = 0
            prev = None
            for ts, _ in evs:
                if prev is None or (ts - prev) > self.GAP_MIN * 60:
                    n_sessions += 1
                prev = ts
            out[u] = (n_sessions, len(evs))
        return out

    def _run(self, spark, rows):
        from pyspark.sql import types as T

        df = spark.createDataFrame(
            [(u, ts, eid) for u, ts, eid in rows],
            T.StructType([
                T.StructField("user_id", T.StringType()),
                T.StructField("epoch", T.LongType()),
                T.StructField("event_id", T.LongType()),
            ]),
        ).select(
            "user_id", F.timestamp_seconds("epoch").alias("ts"), "event_id"
        )
        got = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in scale.sessionize_counts_bucketed(
                df, gap_minutes=self.GAP_MIN
            ).collect()
        }
        assert got == self._window_reference(spark, rows)

    def test_boundary_cases(self, spark):
        g = self.GAP_MIN * 60
        b = 10_000_000 // g * g  # a bucket boundary
        rows = [
            # exactly one gap apart -> SAME session (strict >)
            ("exact", 1_000_000, 1), ("exact", 1_000_000 + g, 2),
            # one second over -> new session
            ("over", 2_000_000, 1), ("over", 2_000_000 + g + 1, 2),
            # tie on ts -> same session
            ("tie", 3_000_000, 1), ("tie", 3_000_000, 2),
            # adjacent across a bucket edge, 2 s apart -> same session
            ("edge", b - 1, 1), ("edge", b + 1, 2),
            # an empty bucket between events barely > gap apart
            ("hole", b, 1), ("hole", b + g + 1, 2),
            # events in far-apart buckets -> 3 sessions
            ("far", 0, 1), ("far", 10 * g, 2), ("far", 20 * g, 3),
            # single event
            ("solo", 5_000_000, 1),
            # pre-1970 epochs: bucket ids must FLOOR (not truncate
            # toward zero) for negative timestamps — 2 s apart across
            # the epoch-0 bucket edge is one session
            ("neg", -1, 1), ("neg", 1, 2),
            ("negfar", -10 * g, 1), ("negfar", -10 * g + g + 1, 2),
        ]
        self._run(spark, rows)

    def test_rejects_nonpositive_gap(self, spark):
        df = spark.range(1).select(
            F.lit("u").alias("user_id"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.col("id").alias("event_id"),
        )
        for bad in (0, -30):
            with pytest.raises(ValueError, match="gap_minutes"):
                scale.sessionize_counts_bucketed(df, gap_minutes=bad)

    def test_randomized_equivalence(self, spark):
        import random

        rng = random.Random(0xD1E7)
        g = self.GAP_MIN * 60
        rows = []
        eid = 0
        for u in range(12):
            t = rng.randrange(0, 5 * g)
            for _ in range(rng.randrange(1, 60)):
                # mix sub-gap jitters, exact-gap steps, and long holes
                t += rng.choice([rng.randrange(0, g), g, g + 1,
                                 rng.randrange(g, 5 * g)])
                eid += 1
                rows.append((f"u{u}", t, eid))
        self._run(spark, rows)

    def test_matches_registered_sessionize(self, spark, sf_dir):
        from dirt_hadoop_similarity_spark.plans.queries import QUERIES

        plain = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in QUERIES["sessionize"].fn(spark, sf_dir).collect()
        }
        safe = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in QUERIES["sessionize_skewsafe"].fn(
                spark, sf_dir).collect()
        }
        assert safe == plain

    def test_rejects_nonpositive_gap_window_variant(self, spark):
        df = spark.range(1).select(
            F.lit("u").alias("user_id"),
            F.timestamp_seconds(F.col("id")).alias("ts"),
            F.col("id").alias("event_id"),
        )
        with pytest.raises(ValueError, match="gap_minutes"):
            scale.sessionize_counts_window(df, gap_minutes=0)

    def test_window_runs_over_bucket_relation_not_events(self, spark,
                                                         sf_dir):
        """The point of the variant: the per-user Window runs over the
        COLLAPSED (user, bucket) relation — an Aggregate must sit below
        it in the plan — never over the raw event relation, where a hot
        user would serialize into one task's sort."""
        from dirt_hadoop_similarity_spark.plans.queries import QUERIES

        lines = (
            QUERIES["sessionize_skewsafe"].fn(spark, sf_dir)
            ._jdf.queryExecution().optimizedPlan().toString().splitlines()
        )
        win = [i for i, ln in enumerate(lines) if "Window" in ln]
        assert len(win) == 1
        # plan text is top-down: the bucket Aggregate (the collapse)
        # must appear BELOW the window operator
        assert any("Aggregate" in ln for ln in lines[win[0] + 1:]), lines


class TestSessionizeAuto:
    """sessionize_counts_auto must pick the bucketed variant exactly
    when the hottest user's event count reaches the threshold — decided
    by probing the data, verified here on the EXECUTED plan (the
    skew_check discipline: trust the plan that ran, not the router's
    intent), with output equality against the window spec on both
    routes."""

    def _corpus(self, spark, n: int, hot_frac: float):
        """Miniature tools/sessionize_stress.py corpus: ``hot_frac`` of
        ``n`` events on one user, the rest uniform over 50 cold users,
        timestamps spread over 30 days."""
        return spark.range(n).select(
            F.when(
                (F.col("id") % 100) < int(hot_frac * 100), F.lit("hot")
            )
            .otherwise(
                F.concat(F.lit("u"), F.pmod(F.xxhash64("id"), F.lit(50)))
            )
            .alias("user_id"),
            F.timestamp_seconds(
                F.pmod(F.xxhash64("id", F.lit(1)), F.lit(30 * 86400))
            ).alias("ts"),
            F.col("id").alias("event_id"),
        )

    @staticmethod
    def _executed_plan(df) -> str:
        # under AQE the final plan exists only after execution
        df.collect()
        return df._jdf.queryExecution().executedPlan().toString()

    def test_routes_bucketed_on_hot_corpus(self, spark):
        ev = self._corpus(spark, 20_000, hot_frac=0.8)
        df = scale.sessionize_counts_auto(ev, hot_user_events=10_000)
        plan = self._executed_plan(df)
        # the gap-bucket collapse key is the variant's signature
        assert "_bucket" in plan, plan

    def test_routes_window_on_uniform_corpus(self, spark):
        ev = self._corpus(spark, 20_000, hot_frac=0.0)
        df = scale.sessionize_counts_auto(ev, hot_user_events=10_000)
        plan = self._executed_plan(df)
        assert "_bucket" not in plan, plan
        assert "Window" in plan, plan

    def test_outputs_equal_window_spec_on_both_routes(self, spark):
        for frac in (0.0, 0.8):
            ev = self._corpus(spark, 5_000, hot_frac=frac)
            got = {
                r.user_id: (r.n_sessions, r.n_events)
                for r in scale.sessionize_counts_auto(
                    ev, hot_user_events=2_000
                ).collect()
            }
            want = {
                r.user_id: (r.n_sessions, r.n_events)
                for r in scale.sessionize_counts_window(ev).collect()
            }
            assert got == want, f"hot_frac={frac}"

    def test_user_counts_steers_routing_without_event_scan(self, spark):
        """VERDICT r10 task 6: a caller-supplied per-user count relation
        replaces the probe — the routing decision follows ITS max, and
        the probe side never touches the event relation (zero premium
        for reuse-heavy callers).  Output stays route-independent."""
        ev = self._corpus(spark, 20_000, hot_frac=0.8)

        # counts claiming a cold corpus -> window route, despite the
        # actually-hot events (counts steer routing only, never output)
        cold_counts = spark.createDataFrame(
            [("hot", 100), ("u1", 50)], "user_id string, count long"
        )
        df = scale.sessionize_counts_auto(
            ev, hot_user_events=10_000, user_counts=cold_counts
        )
        assert "_bucket" not in self._executed_plan(df)

        # counts reporting the real hot user -> bucketed route
        hot_counts = ev.groupBy("user_id").count()
        df = scale.sessionize_counts_auto(
            ev, hot_user_events=10_000, user_counts=hot_counts
        )
        assert "_bucket" in self._executed_plan(df)

        # both routed outputs equal the window spec
        got = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in scale.sessionize_counts_auto(
                ev, hot_user_events=10_000, user_counts=hot_counts
            ).collect()
        }
        want = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in scale.sessionize_counts_window(ev).collect()
        }
        assert got == want

        # probe-side plan: max over the counts relation, no second
        # event scan — the probe frame is built from user_counts alone
        import pytest

        with pytest.raises(ValueError, match="count"):
            scale.sessionize_counts_auto(
                ev, user_counts=cold_counts.select("user_id")
            )

        # ADVICE r11: a counts relation keyed on the WRONG user column
        # (its per-key maxima describe different traffic) is rejected,
        # not silently trusted for routing
        with pytest.raises(ValueError, match="keyed on"):
            scale.sessionize_counts_auto(
                ev,
                user_counts=spark.createDataFrame(
                    [("s1", 10)], "session_id string, count long"
                ),
            )
        # ... and a string-typed count (max() would compare "9" > "100"
        # lexically and mis-route) is rejected too
        with pytest.raises(ValueError, match="numeric"):
            scale.sessionize_counts_auto(
                ev,
                user_counts=spark.createDataFrame(
                    [("hot", "100"), ("u1", "9")],
                    "user_id string, count string",
                ),
            )

    def test_spans_native_equals_bucketed(self, spark, sf_dir):
        """VERDICT r10 task 2: the per-SESSION span family — the
        gap-bucket formulation must reproduce Spark's native
        session_window rows exactly (start, end = last + gap,
        n_events), on the hot synthetic corpus AND on the NTZ-typed
        testdata events, including the exactly-one-gap MERGE rule."""
        def spans(fn, df):
            return {
                (r.user_id, r.session_start, r.session_end, r.n_events)
                for r in fn(df).collect()
            }

        hot = self._corpus(spark, 20_000, hot_frac=0.8)
        assert spans(scale.session_spans_native, hot) == spans(
            scale.session_spans_bucketed, hot
        )

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
        assert spans(scale.session_spans_native, ev) == spans(
            scale.session_spans_bucketed, ev
        )

        # exactly one gap apart MERGES on both variants (strict >)
        df = spark.createDataFrame(
            [("a", 0), ("a", 1800), ("b", 0), ("b", 1801)],
            "user_id string, e long",
        ).select("user_id", F.timestamp_seconds("e").alias("ts"))
        for fn in (scale.session_spans_native, scale.session_spans_bucketed):
            got = sorted(
                (r.user_id, r.n_events) for r in fn(df).collect()
            )
            assert got == [("a", 2), ("b", 1), ("b", 1)], fn.__name__

        import pytest

        with pytest.raises(ValueError, match="gap_minutes"):
            scale.session_spans_native(df, gap_minutes=0)
        with pytest.raises(ValueError, match="gap_minutes"):
            scale.session_spans_bucketed(df, gap_minutes=-1)

    def test_spans_auto_routes_on_executed_plan(self, spark):
        """session_spans_auto picks the bucketed route exactly when the
        hottest user crosses the threshold — pinned on the EXECUTED
        plan (the skew_check discipline), with user_counts steering."""
        hot = self._corpus(spark, 20_000, hot_frac=0.8)
        plan = self._executed_plan(
            scale.session_spans_auto(hot, hot_user_events=10_000)
        )
        assert "_bucket" in plan

        uni = self._corpus(spark, 20_000, hot_frac=0.0)
        plan = self._executed_plan(
            scale.session_spans_auto(uni, hot_user_events=10_000)
        )
        assert "_bucket" not in plan
        assert "session_window" in plan.lower()

        # caller-supplied counts bypass the event-scan probe and steer
        cold_counts = spark.createDataFrame(
            [("hot", 10), ("u1", 5)], "user_id string, count long"
        )
        plan = self._executed_plan(
            scale.session_spans_auto(
                hot, hot_user_events=10_000, user_counts=cold_counts
            )
        )
        assert "_bucket" not in plan

    def test_registered_query_matches_sessionize(self, spark, sf_dir):
        from dirt_hadoop_similarity_spark.plans.queries import QUERIES

        auto = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in QUERIES["sessionize_auto"].fn(spark, sf_dir).collect()
        }
        plain = {
            r.user_id: (r.n_sessions, r.n_events)
            for r in QUERIES["sessionize"].fn(spark, sf_dir).collect()
        }
        assert auto == plain


def test_static_partitions_saturates_at_session_conf(spark):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    spark.conf.set(keys[1], "true")
    try:
        conf = int(saved[keys[0]])
        cap = conf * scale.LOOP_BYTES_PER_PARTITION
        # below the cap: a static count, one partition per 32 MiB
        assert scale.static_partitions(spark, bytes_hint=1) == 1
        below = cap - scale.LOOP_BYTES_PER_PARTITION
        assert scale.static_partitions(spark, bytes_hint=below) == conf - 1
        assert scale.loop_conf(spark, bytes_hint=below).parts == conf - 1
        # at or above it the scope sets nothing and AQE stays on
        for hint in (cap, 4 * cap):
            assert scale.static_partitions(spark, bytes_hint=hint) is None
            with scale.loop_conf(spark, bytes_hint=hint) as lc:
                assert lc.parts is None
                assert spark.conf.get(keys[0]) == saved[keys[0]]
                assert spark.conf.get(keys[1]) == "true"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
