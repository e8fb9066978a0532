"""Driver-contract query registry: every operator class from SURVEY.md §2
expressed over the synthetic testdata tables, with a DuckDB oracle per
query.

Conventions that make the driver's compare deterministic:
  * every computed column is aliased IDENTICALLY in Spark and SQL;
  * float outputs are rounded (6 dp for log/ratio values, 4 dp for money
    sums) so cross-engine ulp differences can't flip the value hash;
  * every LIMIT / row_number query carries a total deterministic ordering
    (explicit tiebreak columns);
  * DuckDB integer sums are cast to BIGINT (DuckDB widens to HUGEINT,
    Spark stays long).

The DIRT-analog queries (`dirt_mi`, `dirt_sim`) run the engine's real
operator modules (counting / mi / overlap) over a token fact table
derived from `documents` — so the correctness gate exercises the same
code paths the linguistic pipeline uses, with slot X/Y assigned by token
position parity.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators import counting, mi as mi_ops, overlap


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    if table == "events":
        # events.parquet is TIMESTAMP(NANOS), which a vanilla Spark session
        # refuses to read (PARQUET_TYPE_ILLEGAL).  nanosAsLong is a
        # runtime-settable SQL conf, so set it here in the query path —
        # the caller's session (the driver harness constructs its own
        # vanilla one) cannot be assumed to have it.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events" and dict(df.dtypes).get("ts") == "bigint":
        # TIMESTAMP(NANOS) parquet read via nanosAsLong → truncate to
        # micros, exactly what DuckDB does reading the same file
        df = df.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    return df


@dataclass
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


QUERIES: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        QUERIES[name] = QueryDef(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# The correctness driver samples the FIRST `DRIVER_WINDOW` registry
# entries in iteration order, so iteration order is part of the
# verification contract.  Any query whose code changed since its last
# driver-green row, or that has never had a driver row, goes in
# `_PRIORITY` — those are guaranteed a driver row this round.
# `_DEFERRED` names the tail that may sit past the window; every name
# there must be (a) driver-green in a previous round, (b) code-unchanged
# since that green row, and (c) oracle-backed.  Anything else keeps
# registration order between the two; if the non-deferred set exceeds
# the window, the overflow must also satisfy (a)-(c).  The safety net
# for everything outside the window is tests/test_oracle_all.py, which
# re-runs every oracle-backed entry against DuckDB on each pytest run.
DRIVER_WINDOW = 50
_PRIORITY = [
    # ROUND-17 ROTATION (VERDICT r16 tasks 1 and 8; ledger below).
    # Head: the full 37-name r14-green cohort — at r17 their rows hit
    # the two-round ceiling exactly (the ledger's planned window):
    "bpe_train_batched",
    "cohort_retention",
    "corpus_diff",
    "corr_price_quantity",
    "cube_status_priority",
    "curation_funnel",
    "dataset_split",
    "decimal_revenue_exact",
    "decontaminate",
    "dedup_components_ls",
    "dedup_distinct",
    "dedup_exact",
    "dedup_incremental",
    "dedup_lsh_verified",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dirt_mi",
    "dirt_sim",
    "doc_chunking",
    "dsir_importance",
    "duplicate_spans",
    "join_orders_lineitem",
    "join_salted_skew",
    "lm_perplexity_tiers",
    "lm_quality",
    "q1_pricing_summary",
    "quality_classifier",
    "reservoir_per_group",
    "set_ops_cohorts",
    "skew_profile",
    "source_cap_keepers",
    "stream_interval_join",
    "stream_windowed_counts",
    "text_repetition",
    "vocab_oov_rate",
    "window_range_frame",
    "zorder_events",
    # conservative UDF-source re-earners (they pre-empt filler per the
    # ledger rule): operators/similarity.py — a UDF-source module,
    # hashed whole under __udf_sources__ — changed at the r16 round
    # close (commit 71db412: the Lloyd training assign moved to the
    # collected-panel numpy mapInPandas _lloyd_assign_np).  The four
    # similarity-backed queries already in the r16 window
    # (ann_ivfpq_trained, ann_pq_topk, ann_cosine_topk,
    # ann_filtered_topk) earned hash-green rows WITH the new code; the
    # ten similarity-backed names below hold r15 rows that PREdate it,
    # so they re-earn here (the multimodal r16 precedent):
    "ann_gemm_topk",
    "ann_hard_negatives",
    "ann_ivf_topk",
    "ann_ivfpq_rerank",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "ann_recall_eval",
    "ann_rh_topk",
    "embedding_near_dups",
    "semantic_dedup",
    # optimization-round changed-plan re-earners (they pre-empt filler
    # per the ledger rule): overlap.similarities' plan has changed
    # since their r16 rows — it now scores each pair against one
    # feature-map row per path (MI semi-joined to the member paths,
    # aggregated per path, looked up per pair) — so these two
    # consumers' prior driver rows no longer cover the current plan
    # (dirt_sim, the third consumer, sits in the r14 cohort above):
    "dirt_full_pipeline",
    "dirt_pipeline_exact",
    # freshness filler: the first non-similarity r15-green name
    # (alphabetical, per the ledger — the 10 re-earners above displaced
    # 10 of the planned 13 r15 filler and the 2 changed-plan names
    # displaced 2 more; the displaced names lead the r18 window):
    "bpe_train_merges",
]
# Round 17: _PRIORITY is exactly 50 names — the full 37-name r14-green
# cohort at its two-round freshness ceiling (the ledger's planned
# window), 10 conservative UDF-source re-earners (similarity.py changed
# at the r16 close without rotating — VERDICT r16 item 1), 2
# changed-plan re-earners (the overlap rewrite), and 1 r15-green
# filler.
# _DEFERRED enumerates every other name — r15/r16 hash-green,
# code-unchanged since their row, oracle-backed.
# The contract is machine-checked on BOTH failure modes:
# tests/test_oracle_all.py recomputes per-query freshness from the
# committed CORRECTNESS_r*.json files (hash-green rows only —
# rows_match alone is not value evidence) and fails if any
# never-driver-checked query sits past the window; and
# test_deferred_plans_unchanged compares every deferred query's
# analyzed-plan fingerprint against the committed snapshot
# (tests/plan_fingerprints.json, regenerated at rotation by
# tools/plan_fingerprints.py), so an operator edit that changes a
# deferred query's plan fails the suite until the query is rotated in.
# Safety net for the tail remains the same test file's full oracle
# sweep.
#
# Registry-size policy (VERDICT r10 task 7): the registry holds at 130
# with a 50-slot driver window — a full evidence sweep already takes
# ~3 rounds, the documented ceiling for "no row older than two rounds".
# From round 11 on, net-new registrations are FROZEN unless the new
# query retires an existing one (same operator surface, better
# coverage) or the driver's window grows.  New OPERATORS still land —
# they either back an existing query or earn their evidence through
# the pytest contract; what's frozen is registry cardinality, not
# capability.  Machine-checked since round 12: tests/test_oracle_all.py
# ::test_registry_size_frozen fails any 131st registration that does
# not retire an existing name (escape hatch documented there).
#
# ROTATION LEDGER (plan the next two windows so no name ever exceeds
# the two-round ceiling).  Post-r17 projected freshness histogram:
# r17=50, r16=50, r15=30 — zero names without hash evidence, none at
# or past the two-round ceiling.  (The 10 similarity re-earners
# displaced 10 of the planned 13 r15 filler — the ledger rule "changed
# plans always pre-empt filler" applied.)
#   ROUND-18 WINDOW (assuming no code changes; changed plans always
#   pre-empt filler): the 30 remaining r15-green names (they lead
#   _DEFERRED below and hit the two-round ceiling at r18), plus 20 of
#   the 50 r16-green names (alphabetical) as filler.
#   ROUND-19 WINDOW: the remaining 30 r16-green names, plus the oldest
#   r17 cohort as filler.
# Steady state: 130 names / 50 slots cycles in <3 rounds with ~20
# slots/round of headroom for changed-plan re-earners.
_DEFERRED = [
    # r15-green (hash) — code-unchanged since their row,
    # fingerprint-guarded, oracle-backed; they LEAD the r18 window
    # (see the rotation ledger above):
    "asof_join_events",
    "cluster_balanced_sample",
    "dedup_simhash",
    "dedup_threshold_sweep",
    "dirt_extract_counts",
    "event_interarrival",
    "event_user_outliers",
    "funnel_conversion",
    "global_scalar",
    "grouping_sets_status",
    "join_broadcast_part",
    "join_region_revenue",
    "join_top_spenders",
    "json_props_extract",
    "least_greatest_pairs",
    "mixture_resample",
    "profile_approx",
    "rolling_distinct_users",
    "snapshot_upsert",
    "source_budget_waterfill",
    "split_contamination",
    "sql_grouping_sets",
    "sql_monthly_top_orders",
    "sql_running_total",
    "temperature_mixture",
    "text_boilerplate",
    "text_cosine_pairs",
    "text_cosine_topk",
    "text_normalize",
    "text_rolling_hash",
    "text_token_budget",
    "timeseries_gapfill",
    # r16-green (hash) — last round's driver window, all code-unchanged
    # since their r16 row, fingerprint-guarded:
    "media_metadata",
    "media_features",
    "media_frames",
    "media_frames_text",
    "event_user_outliers_mad",
    "left_join_coalesce",
    "mi_expression",
    "ntile_quartiles",
    "percentile_exact",
    "pii_redact",
    "pivot_orderstatus",
    "profile_columns",
    "q3_shipping_priority",
    "range_join_events",
    "rollup_returnflag",
    "self_join_lineitem",
    "semi_join_orders",
    "sequence_packing",
    "session_windows",
    "sessionize",
    "sessionize_auto",
    "sessionize_skewsafe",
    "sql_below_avg",
    "stratified_sample",
    "stream_dedup_events",
    "stream_sessionize",
    "subquery_below_avg",
    "text_fingerprint",
    "text_langid",
    "text_quality",
    "text_tfidf_top_terms",
    "topk_per_group",
    "training_shards",
    "union_label",
    "unpivot_orderstatus",
    "window_cumsum",
    "window_sliding",
    "window_tumbling",
    "dedup_components",
    "dedup_cluster_keepers",
    "dedup_pagerank",
    "ann_ivfpq_trained",
    "ann_pq_topk",
    "ann_cosine_topk",
    "ann_filtered_topk",
    "anti_join_customers",
    "bpe_encode_corpus",
    "bpe_pair_counts",
]
# Rows-only-by-design queries that may sit past the window: NONE since
# r15.  profile_approx held this set for 14 rounds (engine-specific
# sketch outputs can't value-match any oracle); it now emits exact
# stats plus sketch-within-band booleans, so its oracle value-checks it
# like everything else (queries_more.py).  dirt_full_pipeline left in
# round 9: its oracle materializes the live stemmer vocabulary as an
# inline lookup (queries_more.py).  The set stays as the documented
# escape hatch for a future genuinely-unoracleable sketch.
_ROWS_ONLY_PAST_WINDOW_OK: set[str] = set()


def ordered_registry() -> dict[str, QueryDef]:
    """The full registry: priority first, deferred tail last, everything
    else in registration order between them."""
    from dirt_hadoop_similarity_spark.plans import (  # noqa: F401 — register extensions
        queries_analytics,
        queries_ext,
        queries_more,
    )

    first = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    mid = {
        n: q
        for n, q in QUERIES.items()
        if n not in _DEFERRED and n not in first
    }
    tail = {n: QUERIES[n] for n in _DEFERRED if n in QUERIES}
    return {**first, **mid, **tail}


# ---------------------------------------------------------------------------
# DIRT analog over documents: token facts with position-parity slots
# ---------------------------------------------------------------------------

_WORDS_SQL = """
  SELECT source AS path,
         CASE WHEN i % 2 = 1 THEN 'X' ELSE 'Y' END AS slot,
         w AS word
  FROM (SELECT source,
               unnest(string_split(text, ' ')) AS w,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents) t
  WHERE w <> ''
"""

_MI_SQL = f"""
WITH words AS ({_WORDS_SQL}),
triples AS (
  SELECT path, slot, word, CAST(count(*) AS BIGINT) AS n
  FROM words GROUP BY path, slot, word
),
sw AS (SELECT slot, word, CAST(sum(n) AS BIGINT) AS sw_n FROM triples GROUP BY slot, word),
ps AS (SELECT path, slot, CAST(sum(n) AS BIGINT) AS ps_n FROM triples GROUP BY path, slot),
nn AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM triples),
mi AS (
  SELECT t.path, t.slot, t.word,
         ln((CAST(t.n AS DOUBLE) * nn.n_total) / (CAST(ps.ps_n AS DOUBLE) * sw.sw_n)) AS mi
  FROM triples t
  JOIN sw ON sw.slot = t.slot AND sw.word = t.word
  JOIN ps ON ps.path = t.path AND ps.slot = t.slot
  CROSS JOIN nn
  WHERE (CAST(t.n AS DOUBLE) * nn.n_total) > 0
    AND (CAST(ps.ps_n AS DOUBLE) * sw.sw_n) > 0
)
SELECT path, slot, word, round(mi, 6) AS mi
FROM mi WHERE mi > 0.001
"""


def _doc_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (path=source, slot=position parity, word, n=1) facts."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.col("source").alias("path"),
            F.posexplode(F.split("text", " ")).alias("i0", "word"),
        )
        .filter(F.col("word") != "")
        .select(
            "path",
            F.when((F.col("i0") + 1) % 2 == 1, "X").otherwise("Y").alias("slot"),
            "word",
            F.lit(1).alias("n"),
        )
    )


def _dirt_tables(spark: SparkSession, sf_dir: str):
    facts = _doc_facts(spark, sf_dir)
    # triples feeds 4 consumers (sw, ps, N, mi); cached so the tokenize +
    # first aggregation runs once — the N collect populates the cache
    triples = counting.triples(facts).cache()
    sw = counting.word_margins(triples)
    ps = counting.path_margins(triples)
    n_total = counting.global_n(triples)
    mi = mi_ops.mi_table(triples, sw, ps, n_total)
    return triples, mi


@register(
    "dirt_mi",
    _MI_SQL,
    "The engine's MI layer (A1-A3, J1, J2, F6, P6, S6) on document-token facts.",
)
def dirt_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, mi = _dirt_tables(spark, sf_dir)
    return mi.select("path", "slot", "word", F.round("mi", 6).alias("mi"))


_SIM_SQL = f"""
WITH words AS ({_WORDS_SQL}),
triples AS (
  SELECT path, slot, word, CAST(count(*) AS BIGINT) AS n
  FROM words GROUP BY path, slot, word
),
sw AS (SELECT slot, word, CAST(sum(n) AS BIGINT) AS sw_n FROM triples GROUP BY slot, word),
ps AS (SELECT path, slot, CAST(sum(n) AS BIGINT) AS ps_n FROM triples GROUP BY path, slot),
nn AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM triples),
mi AS (
  SELECT * FROM (
    SELECT t.path, t.slot, t.word,
           ln((CAST(t.n AS DOUBLE) * nn.n_total) / (CAST(ps.ps_n AS DOUBLE) * sw.sw_n)) AS mi
    FROM triples t
    JOIN sw ON sw.slot = t.slot AND sw.word = t.word
    JOIN ps ON ps.path = t.path AND ps.slot = t.slot
    CROSS JOIN nn
  ) WHERE mi > 0.001
),
srcs AS (SELECT DISTINCT source AS s FROM documents),
pairs AS (
  SELECT a.s AS p1, b.s AS p2 FROM srcs a JOIN srcs b ON a.s < b.s
),
nums AS (
  SELECT p.p1, p.p2,
         SUM(CASE WHEN m1.slot = 'X' THEN m1.mi + m2.mi END) AS num_x,
         SUM(CASE WHEN m1.slot = 'Y' THEN m1.mi + m2.mi END) AS num_y
  FROM pairs p
  JOIN mi m1 ON m1.path = p.p1
  JOIN mi m2 ON m2.path = p.p2 AND m2.slot = m1.slot AND m2.word = m1.word
  GROUP BY p.p1, p.p2
),
smi AS (SELECT path, slot, sum(mi) AS s FROM mi GROUP BY path, slot),
piv AS (
  SELECT path,
         COALESCE(sum(CASE WHEN slot = 'X' THEN s END), 0) AS sx,
         COALESCE(sum(CASE WHEN slot = 'Y' THEN s END), 0) AS sy
  FROM smi GROUP BY path
),
emitted AS (
  SELECT p1, p2 FROM pairs
  WHERE p1 IN (SELECT DISTINCT path FROM mi) OR p2 IN (SELECT DISTINCT path FROM mi)
)
SELECT e.p1, e.p2,
       round(sqrt(
         (CASE WHEN COALESCE(d1.sx, 0) + COALESCE(d2.sx, 0) > 0
               THEN COALESCE(n.num_x, 0) / (COALESCE(d1.sx, 0) + COALESCE(d2.sx, 0))
               ELSE 0 END) *
         (CASE WHEN COALESCE(d1.sy, 0) + COALESCE(d2.sy, 0) > 0
               THEN COALESCE(n.num_y, 0) / (COALESCE(d1.sy, 0) + COALESCE(d2.sy, 0))
               ELSE 0 END)), 6) AS score
FROM emitted e
LEFT JOIN nums n ON n.p1 = e.p1 AND n.p2 = e.p2
LEFT JOIN piv d1 ON d1.path = e.p1
LEFT JOIN piv d2 ON d2.path = e.p2
"""


@register(
    "dirt_sim",
    _SIM_SQL,
    "Full Lin similarity (J3-J5, A5-A6, F7, F8, P9) between document sources.",
)
def dirt_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, mi = _dirt_tables(spark, sf_dir)
    mi = mi.cache()
    srcs = load(spark, sf_dir, "documents").select(
        F.col("source").alias("s")
    ).distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.s") < F.col("b.s"))
        .select(F.col("a.s").alias("p1"), F.col("b.s").alias("p2"))
    )
    sims = overlap.similarities(mi, pairs, mi_ops.sum_mi(mi))
    return sims.select("p1", "p2", F.round("score", 6).alias("score"))


# ---------------------------------------------------------------------------
# Relational operator coverage over the TPC-H-ish tables
# ---------------------------------------------------------------------------

@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_discount), 6) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "A1 multi-agg with filter pushdown (TPC-H Q1 shape).",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "global_scalar",
    """
    SELECT CAST(sum(l_quantity) AS DOUBLE) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    """,
    "A2/S6: whole-table scalar fold (the reference's driver-side N).",
)
def global_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.sum("l_quantity").alias("total_qty"), F.count(F.lit(1)).alias("n_rows")
    )


@register(
    "join_broadcast_part",
    """
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice), 4) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    "J1: broadcast hash join fact→small dim (the DistributedCache analogue).",
)
def join_broadcast_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 4).alias("revenue"),
        )
    )


@register(
    "join_orders_lineitem",
    """
    SELECT o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderpriority
    """,
    "J2: large-large equi-join (Catalyst SMJ/shuffle-hash replaces the "
    "reference's 120-line secondary-sort machinery).",
)
def join_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@register(
    "semi_join_orders",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 5000)
    GROUP BY o_orderpriority
    """,
    "J3: left-semi join (the reference's broadcast path∈testset filter).",
)
def semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 5000)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "anti_join_customers",
    """
    SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_without_big_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c.c_mktsegment
    """,
    "J6: left-anti join (the evaluator's false-negative fill).",
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without_big_orders"))
    )


@register(
    "left_join_coalesce",
    """
    SELECT c.c_custkey,
           round(COALESCE(s.total, 0.0), 4) AS total_spent,
           CAST(COALESCE(s.n, 0) AS BIGINT) AS n_orders
    FROM customer c
    LEFT JOIN (SELECT o_custkey, sum(o_totalprice) AS total,
                      CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY o_custkey) s
      ON s.o_custkey = c.c_custkey
    """,
    "J5+F8: left-outer join with default-0 fill (the sumMI lookup shape).",
)
def left_join_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("total"), F.count(F.lit(1)).alias("n")
    )
    return c.join(s, c.c_custkey == s.o_custkey, "left").select(
        "c_custkey",
        F.round(F.coalesce("total", F.lit(0.0)), 4).alias("total_spent"),
        F.coalesce("n", F.lit(0)).alias("n_orders"),
    )


@register(
    "self_join_lineitem",
    """
    SELECT a.l_returnflag AS flag1, b.l_returnflag AS flag2,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
    GROUP BY a.l_returnflag, b.l_returnflag
    """,
    "J4: self-equi-join (the feature-vector intersection shape).",
)
def self_join_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") < F.col("b.l_linenumber")),
        )
        .groupBy(
            F.col("a.l_returnflag").alias("flag1"),
            F.col("b.l_returnflag").alias("flag2"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "pivot_orderstatus",
    """
    SELECT o_orderpriority,
           round(COALESCE(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0), 4) AS open_total,
           round(COALESCE(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0), 4) AS finished_total,
           round(COALESCE(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 0), 4) AS pending_total
    FROM orders GROUP BY o_orderpriority
    """,
    "Pivot (the ΣMI slot-pivot shape, J5 prep).",
)
def pivot_orderstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum("o_totalprice"))
    )
    return piv.select(
        "o_orderpriority",
        F.round(F.coalesce("O", F.lit(0.0)), 4).alias("open_total"),
        F.round(F.coalesce("F", F.lit(0.0)), 4).alias("finished_total"),
        F.round(F.coalesce("P", F.lit(0.0)), 4).alias("pending_total"),
    )


@register(
    "least_greatest_pairs",
    """
    SELECT least(CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR)) AS p1,
           greatest(CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR)) AS p2,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY p1, p2
    """,
    "P9: canonical pair ordering via least/greatest (string compare, as "
    "the reference's Text.compareTo).",
)
def least_greatest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = F.col("l_partkey").cast("string")
    s = F.col("l_suppkey").cast("string")
    return (
        li.select(F.least(p, s).alias("p1"), F.greatest(p, s).alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "mi_expression",
    """
    SELECT l_returnflag,
           round(ln(sum(l_extendedprice) / sum(l_quantity)), 6) AS log_avg_price,
           round(sqrt(avg(l_discount * l_discount)), 6) AS rms_discount,
           round(CASE WHEN sum(l_tax) > 0
                      THEN sum(l_discount) / sum(l_tax) ELSE 0 END, 6) AS disc_tax_ratio
    FROM lineitem GROUP BY l_returnflag
    """,
    "F6/F7/F8: natural log, sqrt, guarded division — the MI/score math.",
)
def mi_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.log(F.sum("l_extendedprice") / F.sum("l_quantity")), 6).alias(
            "log_avg_price"
        ),
        F.round(F.sqrt(F.avg(F.col("l_discount") * F.col("l_discount"))), 6).alias(
            "rms_discount"
        ),
        F.round(
            F.when(
                F.sum("l_tax") > 0, F.sum("l_discount") / F.sum("l_tax")
            ).otherwise(0.0),
            6,
        ).alias("disc_tax_ratio"),
    )


@register(
    "window_cumsum",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_value,
           CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
             AS rn
    FROM events WHERE ts IS NOT NULL
    """,
    "A8: windowed cumulative sum (the evaluator's TP/FP scan shape); "
    "null event-times are dropped — an unstamped event has no place in "
    "a time-ordered running sum (and Spark orders NULLS FIRST where "
    "DuckDB orders NULLS LAST, so keeping them diverges cross-engine).",
)
def window_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 4
        ).alias("running_value"),
        F.row_number().over(w).cast("long").alias("rn"),
    )


@register(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
    WHERE rn <= 3
    """,
    "O4: top-k per group with deterministic tiebreak.",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
    )


@register(
    "union_label",
    """
    SELECT label, event_type, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT 1 AS label, event_type FROM events WHERE event_type IN ('purchase', 'signup')
      UNION ALL
      SELECT 0 AS label, event_type FROM events WHERE event_type = 'error'
    ) GROUP BY label, event_type
    """,
    "O5: labeled union (positive/negative test-set load shape).",
)
def union_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    pos = ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        F.lit(1).alias("label"), "event_type"
    )
    neg = ev.filter(F.col("event_type") == "error").select(
        F.lit(0).alias("label"), "event_type"
    )
    return pos.unionByName(neg).groupBy("label", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "window_tumbling",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY window_start, event_type
    """,
    "Streaming-analog tumbling window aggregation (batch form).",
)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


_SESSIONIZE_ORACLE = """
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events
    FROM gaps GROUP BY user_id
    """


@register(
    "sessionize",
    _SESSIONIZE_ORACLE,
    "Sessionization: lag + gap threshold + cumulative session ids.",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import scale

    return scale.sessionize_counts_window(load(spark, sf_dir, "events"))


@register(
    "sessionize_skewsafe",
    _SESSIONIZE_ORACLE,
    "Skew-immune sessionization: gap-aligned tumbling buckets replace "
    "the per-user window, so a hot user never serializes into one task "
    "(operators/scale.sessionize_counts_bucketed); same oracle — the "
    "semantics are identical by construction.",
)
def sessionize_skewsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import scale

    return scale.sessionize_counts_bucketed(load(spark, sf_dir, "events"))


@register(
    "sessionize_auto",
    _SESSIONIZE_ORACLE,
    "Self-routing sessionization: a map-side-combined max-events-per-"
    "user probe picks the window variant on uniform traffic and the "
    "gap-bucket variant when any user is task-sort-sized "
    "(operators/scale.sessionize_counts_auto; crossover measured by "
    "tools/sessionize_stress.py — PERF.md round 9); same oracle — the "
    "variants are semantically identical, routing is physical only.",
)
def sessionize_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import scale

    return scale.sessionize_counts_auto(load(spark, sf_dir, "events"))
