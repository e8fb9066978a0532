"""Physical-plan regression tests: the properties PERF.md's audit claims
must stay true as the code evolves — pushdown reaching the scan,
broadcast on the provably-small sides, no unexpected exchanges.

These assert on plan STRUCTURE, not timings, so they are stable on any
box; each mirrors a row of the PERF.md plan-audit table."""

import pytest
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.plans.queries import QUERIES, load


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q1_filter_pushed_and_columns_pruned(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_ext, queries_more  # noqa: F401

    df = QUERIES["q1_pricing_summary"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split(
        "PushedFilters"
    )[1][:200], plan
    # projection pruning: the scan schema must not carry all 16 lineitem
    # columns — l_comment never appears
    assert "l_comment" not in plan


def test_dirt_mi_margins_are_broadcast(spark, sf_dir):
    df = QUERIES["dirt_mi"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_ann_query_side_broadcast_no_cartesian(spark, sf_dir):
    df = QUERIES["ann_cosine_topk"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_families_join_on_bucket_equi(spark, sf_dir):
    for name in ("ann_lsh_topk", "ann_rh_topk"):
        plan = _plan(QUERIES[name].fn(spark, sf_dir))
        # bucket equi-join → hash join; a cross/NLJ here would be the
        # all-pairs blow-up the buckets exist to prevent
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, (
            name,
            plan,
        )


def test_media_decode_has_no_exchange_full_query(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_ext  # noqa: F401

    plan = _plan(QUERIES["media_metadata"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_minhash_no_cartesian(spark, sf_dir):
    plan = _plan(QUERIES["dedup_minhash_lsh"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan


def test_events_filter_pushdown_survives_ts_conversion(spark, sf_dir):
    """The nanos→micros conversion wraps the scan in a projection; an
    event_type filter applied on top must still reach the parquet scan."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    plan = _plan(ev)
    assert "PushedFilters" in plan and "event_type" in plan.split(
        "PushedFilters"
    )[1][:200], plan


def test_pr_scan_is_gold_bounded(spark):
    """The evaluator's scan holds only labeled pairs (scored INNER JOIN
    gold), so the PR curve is test-set sized however many pairs the
    system scores."""
    from dirt_hadoop_similarity_spark.plans.evaluate import evaluate

    scored = spark.range(5000).select(
        F.concat(F.lit("a"), "id").alias("p1"),
        F.concat(F.lit("b"), "id").alias("p2"),
        (F.col("id") % 100 / 100.0).alias("score"),
    )
    gold = spark.range(20).select(
        F.concat(F.lit("a"), "id").alias("p1"),
        F.concat(F.lit("b"), "id").alias("p2"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    res = evaluate(scored, gold)
    assert res["n_scored"] == 5000
    assert res["scan"].count() <= 20


def _seq_list(seq):
    return [seq.apply(i) for i in range(seq.size())]


def _executed_nodes(node):
    """Every node of an executed physical plan, through AQE wrappers, query
    stages and reused exchanges; a cached relation's own plan is not
    entered (it is an input to the plan, not part of it)."""
    name = node.getClass().getSimpleName()
    yield node
    if name == "InMemoryTableScanExec":
        return
    if name == "AdaptiveSparkPlanExec":
        assert node.isFinalPlan()
        kids = [node.executedPlan()]
    elif name.endswith("QueryStageExec"):
        kids = [node.plan()]
    elif name == "ReusedExchangeExec":
        kids = [node.child()]
    else:
        kids = _seq_list(node.children())
    for kid in kids:
        yield from _executed_nodes(kid)


def test_similarities_never_fan_out_features_per_pair(spark):
    """No operator of the similarity plan outputs per-(pair, feature) rows:
    a path's features are aggregated into one row before any pair sees
    them, so no node carries a pair column beside ``word``."""
    from dirt_hadoop_similarity_spark.operators import mi, overlap

    words = [f"w{i}" for i in range(50)]
    mi_df = spark.createDataFrame(
        [(f"p{k}", s, w, 1.0 + k) for k in range(10) for s in "XY" for w in words],
        "path string, slot string, word string, mi double",
    )
    pairs = spark.createDataFrame(
        [("p0", f"p{k}") for k in range(1, 10)] + [("p1", "p2")], "p1 string, p2 string"
    )
    sims = overlap.similarities(mi_df, pairs, mi.sum_mi(mi_df))
    assert len(sims.collect()) == 10
    outputs = [
        {a.name() for a in _seq_list(n.output())}
        for n in _executed_nodes(sims._jdf.queryExecution().executedPlan())
    ]
    assert any("word" in o for o in outputs) and any("p1" in o for o in outputs)
    fanned = [o for o in outputs if "word" in o and o & {"p1", "p2"}]
    assert not fanned, fanned


def test_mixture_factors_broadcast_corpus_never_smj(spark, sf_dir):
    """mixture_resample's corpus side must join the k-row factor table
    by broadcast — a SortMergeJoin here would shuffle the corpus to
    meet a handful of rows."""
    df = QUERIES["mixture_resample"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_training_shards_single_exchange(spark, sf_dir):
    """The shard layout's only wide op is the per-shard window: exactly
    one keyed exchange, no joins."""
    df = QUERIES["training_shards"].fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_pii_and_classifier_are_map_only(spark, sf_dir):
    for name in ("pii_redact", "quality_classifier"):
        plan = _plan(QUERIES[name].fn(spark, sf_dir))
        assert "Exchange" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_corpus_diff_shuffles_digests_not_payloads(spark, sf_dir):
    """corpus_diff's full-outer join must see only (key, md5) — if a
    refactor lets document text reach the join, 100 TB of payload
    shuffles instead of 16-byte digests.  The md5 Project sits BELOW the
    Exchange, so the check is on each Exchange's Input row, not on the
    plan text (where `md5(text#..)` legitimately appears further down)."""
    df = QUERIES["corpus_diff"].fn(spark, sf_dir)
    formatted = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    exchanges = [
        b for b in formatted.split("\n\n") if b.lstrip().startswith("(")
        and ") Exchange" in b.split("\n", 1)[0]
    ]
    assert exchanges, formatted
    for block in exchanges:
        input_line = next(
            ln for ln in block.splitlines() if ln.startswith("Input")
        )
        assert "text#" not in input_line, block


def test_doc_chunking_is_map_only(spark, sf_dir):
    """Chunking must fuse into the scan: no Exchange at any corpus size."""
    plan = _plan(QUERIES["doc_chunking"].fn(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_duplicate_spans_shuffles_digests_not_text(spark, sf_dir):
    """The gram relation must carry md5 digests, never gram text or the
    token array — every Exchange Input is (doc_id, pos, digest)-shaped."""
    import re

    df = QUERIES["duplicate_spans"].fn(spark, sf_dir)
    formatted = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    exchanges = [
        b for b in formatted.split("\n\n") if b.lstrip().startswith("(")
        and ") Exchange" in b.split("\n", 1)[0]
    ]
    assert exchanges, formatted
    for block in exchanges:
        input_line = next(
            ln for ln in block.splitlines() if ln.startswith("Input")
        )
        assert "text#" not in input_line, block
        assert not re.search(r"[\[, ]t#\d", input_line), block


def test_cap_queries_use_rank_limit_pushdown(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_ext, queries_more  # noqa: F401

    # the per-group caps must compile to WindowGroupLimit (Spark's
    # rank-limit pushdown: each task keeps only cap rows per group
    # BEFORE the shuffle) — a plain Window + Filter would sort whole
    # groups; and the cap must never force a single-partition window
    for name in ("source_cap_keepers", "cluster_balanced_sample"):
        plan = _plan(QUERIES[name].fn(spark, sf_dir))
        assert "WindowGroupLimit" in plan, (name, plan)


def test_anomaly_stats_side_broadcasts(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_ext, queries_more  # noqa: F401

    df = QUERIES["event_user_outliers"].fn(spark, sf_dir)
    plan = _plan(df)
    # |users|-row stats side must broadcast: scoring stays map-side
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_split_contamination_no_cartesian(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_ext, queries_more  # noqa: F401

    df = QUERIES["split_contamination"].fn(spark, sf_dir)
    plan = _plan(df)
    # candidates must meet on the band equi-join; the split relation
    # joins equi on the pair ids
    assert "CartesianProduct" not in plan, plan


def test_cosine_pairs_inverted_index_equi_join(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401

    df = QUERIES["text_cosine_pairs"].fn(spark, sf_dir)
    plan = _plan(df)
    # posting lists must meet on the term equi-join — a cross/NLJ here
    # is the all-pairs blow-up the inverted index exists to prevent
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_region_revenue_pushdown_and_broadcast_dims(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401

    df = QUERIES["join_region_revenue"].fn(spark, sf_dir)
    plan = _plan(df)
    # the date range must reach the orders parquet scan
    assert "GreaterThanOrEqual(o_orderdate" in plan, plan
    assert "LessThan(o_orderdate" in plan, plan
    # supplier/nation/region are hinted broadcast — no dim may shuffle
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "CartesianProduct" not in plan


def test_grouping_sets_single_expand(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401

    df = QUERIES["grouping_sets_status"].fn(spark, sf_dir)
    plan = _plan(df)
    # grouping sets compile to ONE Expand feeding partial aggregation —
    # not one scan+shuffle per set
    assert plan.count("Expand") >= 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_top_spenders_agg_side_broadcasts(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401

    df = QUERIES["join_top_spenders"].fn(spark, sf_dir)
    plan = _plan(df)
    # the HAVING-filtered agg is tiny and hinted broadcast: the join
    # back to orders/customer must not shuffle the fact tables
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_below_avg_decorrelated_no_cartesian(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401

    df = QUERIES["subquery_below_avg"].fn(spark, sf_dir)
    plan = _plan(df)
    # the decorrelated avg joins back equi on l_partkey
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_rolling_distinct_is_equi_shaped(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401

    df = QUERIES["rolling_distinct_users"].fn(spark, sf_dir)
    plan = _plan(df)
    # the explode-to-window-ends shape must never fall back to a
    # non-equi join against the day spine
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_cosine_topk_uses_rank_limit_pushdown(spark, sf_dir):
    from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401

    df = QUERIES["text_cosine_topk"].fn(spark, sf_dir)
    plan = _plan(df)
    # the per-doc rank <= k filter must compile to WindowGroupLimit
    # (per-task top-k before the shuffle), and the candidate chain
    # stays cartesian-free
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_sql_below_avg_decorrelates_to_equi_join(spark, sf_dir):
    """The SQL-text correlated scalar subquery (TPC-H Q17 shape) must be
    decorrelated by Catalyst into a grouped-aggregate equi-join — the
    one new round-7 plan shape that could silently fall back to a
    nested-loop join if decorrelation missed (VERDICT r7 task 4)."""
    from dirt_hadoop_similarity_spark.plans import queries_analytics  # noqa: F401

    df = QUERIES["sql_below_avg"].fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # decorrelation leaves a partkey-keyed aggregate joined back equi
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan
