"""Additional operator-coverage queries: as-of join, semi-structured
JSON, rollup/grouping sets, multi-join top-k, and column profiling."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.plans.queries import load, register


def ts_micros(c: F.Column) -> F.Column:
    """Naive epoch microseconds for a TIMESTAMP or TIMESTAMP_NTZ column.

    The parquet event timestamps infer as TIMESTAMP_NTZ under Spark 4,
    which ``unix_micros`` rejects; casting through TIMESTAMP first makes
    it total.  The cast interprets the naive value in the session
    timezone, so only *differences* of this value are
    timezone-independent — every caller below uses it solely inside
    differences/orderings, where any FIXED session-zone offset cancels.
    A DST zone would break that cancellation for differences spanning a
    transition, so the fixed-offset precondition is enforced here, at
    plan-build time, rather than resting silently on session.py's UTC
    default.
    """
    from dirt_hadoop_similarity_spark.session import require_fixed_offset_tz

    require_fixed_offset_tz()
    return F.unix_micros(c.cast("timestamp"))


@register(
    "asof_join_events",
    """
    WITH ordered AS (
      SELECT user_id, event_id, event_type, ts,
             last_value(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_purchase_ts
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
           CAST(date_diff('microsecond', last_purchase_ts, ts) // 1000000 AS BIGINT)
             AS secs_since_purchase
    FROM ordered
    WHERE event_type = 'error' AND last_purchase_ts IS NOT NULL
    """,
    "As-of join (no native Spark op): for each error event, the most "
    "recent prior purchase of the same user — window last(ignore nulls) "
    "composition, identical semantics both engines.  Null event-times "
    "are dropped: 'most recent prior' is undefined for an unstamped "
    "event, and the engines' NULL sort orders differ.",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("ts")), ignorenulls=True
    ).over(w)
    return (
        ev.withColumn("last_purchase_ts", last_purchase)
        .filter(
            (F.col("event_type") == "error")
            & F.col("last_purchase_ts").isNotNull()
        )
        .select(
            "user_id",
            "event_id",
            (
                (ts_micros(F.col("ts")) - ts_micros(F.col("last_purchase_ts")))
                / 1_000_000
            )
            .cast("long")
            .alias("secs_since_purchase"),
        )
    )


@register(
    "range_join_events",
    """
    SELECT e.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events e JOIN events p
      ON p.user_id = e.user_id
     AND e.event_type = 'error' AND p.event_type = 'purchase'
     AND p.ts < e.ts
     AND p.ts >= e.ts - INTERVAL 30 MINUTE
    GROUP BY e.user_id
    """,
    "Range (interval) join: purchases within 30 min before each error, "
    "per user. The batch oracle for the stream-stream join in "
    "streaming/events.py. At scale: bucketize the time axis and "
    "equi-join on (user, bucket) to bound the join's search window.",
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("ts").alias("ets")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("pts")
    )
    return (
        e.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("pts") < F.col("ets"))
            & (F.col("pts") >= F.col("ets") - F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "json_props_extract",
    """
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_total,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    "Semi-structured extraction: JSON props column → typed aggregation.",
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_total"), F.count(F.lit(1)).alias("n")
    )


@register(
    "rollup_returnflag",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_quantity), 4) AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "Rollup / grouping sets (the reference's A3 marginals are a manual "
    "partial cube; here is the declarative form).",
)
def rollup_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 4).alias("qty"),
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    "Three-table join + agg + deterministic top-10 (TPC-H Q3 shape).",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    li = load(spark, sf_dir, "lineitem")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


_AUX_SQL = ", ".join(
    f"'{w}'"
    for w in (
        "be", "am", "is", "are", "was", "were", "been", "being",
        "do", "does", "did", "have", "has", "had", "will", "would",
        "shall", "should", "can", "could", "may", "might", "must",
    )
)


@register(
    "dirt_extract_counts",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS t
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_extractions,
           CAST(sum(n_chars_weight) AS BIGINT) AS total_weight
    FROM (
      SELECT doc_id, 1 + (doc_id % 7) AS n_chars_weight
      FROM toks
      WHERE len(t) >= 3 AND lower(t[2]) NOT IN ({_AUX_SQL})
    )
    """,
    "G1-G3+P3+P4 end-to-end: the real path-extraction UDTF over biarc "
    "lines synthesized from documents (w1/NNS w2/VBP w3/NN pattern). The "
    "oracle verifies the extraction COUNT algebra (arity + aux-stoplist "
    "filters); path strings involve the Porter stemmer and stay "
    "pytest-verified.",
)
def dirt_extract_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators.extraction import extractions
    from dirt_hadoop_similarity_spark.sources.biarcs import with_tokens

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    # synthesize a biarc ngram: first word NNS subject, second VBP root,
    # third NN object; weight varies deterministically with doc_id
    biarcs = docs.filter(F.size(toks) >= 3).select(
        F.concat(
            F.get(toks, 0), F.lit("/NNS/nsubj/2 "),
            F.get(toks, 1), F.lit("/VBP/ROOT/0 "),
            F.get(toks, 2), F.lit("/NN/dobj/2"),
        ).alias("ngram"),
        (1 + F.col("doc_id") % 7).alias("n"),
    )
    from dirt_hadoop_similarity_spark.plans.pipeline import (
        rebalance_for_extraction,
    )

    ex = extractions(rebalance_for_extraction(with_tokens(biarcs), spark))
    return ex.agg(
        F.count(F.lit(1)).alias("n_extractions"),
        F.sum("n").alias("total_weight"),
    )


# The stemmer's live vocabulary, materialized for the oracle (VERDICT r8
# task 5): the pipeline stems exactly the words at token positions
# 0,1,2,3,5 of each >=6-token document, a 30-word closed set across every
# shipped sf dir.  Stems come from the engine's own Porter implementation
# (functions/porter.py, Java-parity pinned by its rule-table test), so
# the oracle trusts the STEMMER as input data and value-checks everything
# downstream of it — the parse, extraction, MI, top-path selection, the
# per-pair feature lookup, and Lin scoring.  tests/test_pipeline.py
# asserts this mapping covers the live vocabulary and agrees with
# porter_stem, so a testdata regeneration that widens the vocabulary
# fails loudly there, not as a silent oracle mismatch.
FULL_PIPE_STEMS: dict[str, str] = {
    "a": "a", "agg": "agg", "batch": "batch", "big": "big",
    "column": "column", "customer": "custom", "data": "data",
    "fast": "fast", "filter": "filter", "group": "group", "hash": "hash",
    "join": "join", "key": "kei", "line": "line", "merge": "merg",
    "order": "order", "part": "part", "query": "queri", "row": "row",
    "scan": "scan", "slow": "slow", "small": "small", "sort": "sort",
    "spark": "spark", "stream": "stream", "table": "tabl", "the": "the",
    "value": "valu", "vector": "vector", "window": "window",
}

_AUX_STOPLIST_SQL = (
    "('be','am','is','are','was','were','been','being','do','does','did',"
    "'have','has','had','will','would','shall','should','can','could',"
    "'may','might','must')"
)

_FULL_PIPE_SQL = f"""
WITH stems(word, stem) AS (VALUES {", ".join(
    f"('{w}', '{s}')" for w, s in sorted(FULL_PIPE_STEMS.items())
)}),
toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS w
  FROM documents
),
base AS (
  SELECT doc_id, w[1] AS w0, w[2] AS w1, w[3] AS w2,
         w[4] AS w3, w[5] AS w4, w[6] AS w5,
         CAST(1 + doc_id % 5 AS BIGINT) AS n1,
         CAST(1 + doc_id % 3 AS BIGINT) AS n2
  FROM toks WHERE len(w) >= 6
),
verbs AS (
  SELECT * FROM base WHERE lower(w1) NOT IN {_AUX_STOPLIST_SQL}
),
exts AS (
  SELECT 'N:<nsubj:V:' || sv.stem || ':>dobj:N' AS path,
         sx.stem AS x, sy.stem AS y, n1 AS n
  FROM verbs
  JOIN stems sv ON sv.word = w1
  JOIN stems sx ON sx.word = w0
  JOIN stems sy ON sy.word = w2
  UNION ALL
  SELECT 'N:<nsubj:V:' || sv.stem || ':>prep:P:' || lower(w4) || ':>pobj:N',
         sx.stem, sy.stem, n2
  FROM verbs
  JOIN stems sv ON sv.word = w1
  JOIN stems sx ON sx.word = w3
  JOIN stems sy ON sy.word = w5
),
words AS (
  SELECT path, 'X' AS slot, x AS word, n FROM exts
  UNION ALL
  SELECT path, 'Y' AS slot, y AS word, n FROM exts
),
triples AS (
  SELECT path, slot, word, CAST(sum(n) AS BIGINT) AS n
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
toppaths AS (
  SELECT path FROM (
    SELECT path, sum(n) AS pn FROM triples GROUP BY path
    ORDER BY pn DESC, path LIMIT 10)
),
pairs AS (
  SELECT a.path AS p1, b.path AS p2 FROM toppaths a JOIN toppaths b ON a.path < b.path
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
),
scored AS (
  SELECT e.p1, e.p2,
         sqrt(
           (CASE WHEN COALESCE(d1.sx, 0) + COALESCE(d2.sx, 0) > 0
                 THEN COALESCE(n.num_x, 0) / (COALESCE(d1.sx, 0) + COALESCE(d2.sx, 0))
                 ELSE 0 END) *
           (CASE WHEN COALESCE(d1.sy, 0) + COALESCE(d2.sy, 0) > 0
                 THEN COALESCE(n.num_y, 0) / (COALESCE(d1.sy, 0) + COALESCE(d2.sy, 0))
                 ELSE 0 END)) AS score
  FROM emitted e
  LEFT JOIN nums n ON n.p1 = e.p1 AND n.p2 = e.p2
  LEFT JOIN piv d1 ON d1.path = e.p1
  LEFT JOIN piv d2 ON d2.path = e.p2
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs_scored,
       CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       round(max(score), 6) AS max_score
FROM scored
"""


@register(
    "dirt_full_pipeline",
    _FULL_PIPE_SQL,
    "The COMPLETE DIRT DAG in one query: biarc synthesis → token parse → "
    "path-extraction UDTF → marginals → MI → per-path feature maps → pair "
    "lookup → Lin scores. Pairs come from the corpus's own most "
    "frequent paths; output is the deterministic score summary.  The "
    "oracle replays every stage in SQL, with the live stemmer vocabulary "
    "materialized as an inline lookup (FULL_PIPE_STEMS, coverage-pinned "
    "by tests/test_pipeline.py) — closing the last closable rows-only "
    "gap (VERDICT r8 task 5).",
)
def dirt_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.plans.pipeline import run_pipeline

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda w: w != "")
    with_t = docs.filter(F.size(toks) >= 6).select(
        F.col("doc_id"), toks.alias("t")
    )
    # two sentence shapes per document: SVO and S-V-prep-O
    svo = with_t.select(
        F.concat(
            F.get("t", 0), F.lit("/NNS/nsubj/2 "),
            F.get("t", 1), F.lit("/VBP/ROOT/0 "),
            F.get("t", 2), F.lit("/NN/dobj/2"),
        ).alias("ngram"),
        (1 + F.col("doc_id") % 5).alias("n"),
    )
    svpo = with_t.select(
        F.concat(
            F.get("t", 3), F.lit("/NNS/nsubj/2 "),
            F.get("t", 1), F.lit("/VBP/ROOT/0 "),
            F.get("t", 4), F.lit("/IN/prep/2 "),
            F.get("t", 5), F.lit("/NN/pobj/3"),
        ).alias("ngram"),
        (1 + F.col("doc_id") % 3).alias("n"),
    )
    lines = svo.unionByName(svpo).select(
        F.concat_ws("\t", F.lit("h"), "ngram", F.col("n").cast("string")).alias(
            "value"
        )
    )
    res = run_pipeline(spark, lines)
    top_paths = (
        res.path_margins.groupBy("path")
        .agg(F.sum("n").alias("pn"))
        .orderBy(F.desc("pn"), "path")
        .limit(10)
        .select("path")
    )
    a, b = top_paths.alias("a"), top_paths.alias("b")
    pairs = a.join(b, F.col("a.path") < F.col("b.path")).select(
        F.col("a.path").alias("p1"), F.col("b.path").alias("p2")
    )
    from dirt_hadoop_similarity_spark.operators import overlap

    sims = overlap.similarities(res.mi, pairs, res.sum_mi)
    return sims.agg(
        F.count(F.lit(1)).alias("n_pairs_scored"),
        F.sum(F.when(F.col("score") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_positive"),
        F.round(F.max("score"), 6).alias("max_score"),
    )


_PIPE_EXACT_SQL = """
WITH base AS (
  SELECT doc_id,
         'n' || chr(CAST(97 + doc_id % 7 AS INT)) AS x1,
         chr(CAST(97 + doc_id % 5 AS INT)) || 'v' AS vb,
         'm' || chr(CAST(97 + doc_id % 6 AS INT)) AS y1,
         'n' || chr(CAST(97 + (doc_id + 3) % 7 AS INT)) AS x2,
         CASE WHEN doc_id % 2 = 0 THEN 'of' ELSE 'in' END AS prep,
         'm' || chr(CAST(97 + (doc_id + 2) % 6 AS INT)) AS y2,
         CAST(1 + doc_id % 5 AS BIGINT) AS n1,
         CAST(1 + doc_id % 3 AS BIGINT) AS n2
  FROM documents
),
exts AS (
  SELECT 'N:<nsubj:V:' || vb || ':>dobj:N' AS path, x1 AS x, y1 AS y, n1 AS n
  FROM base
  UNION ALL
  SELECT 'N:<nsubj:V:' || vb || ':>prep:P:' || prep || ':>pobj:N', x2, y2, n2
  FROM base
),
words AS (
  SELECT path, 'X' AS slot, x AS word, n FROM exts
  UNION ALL
  SELECT path, 'Y' AS slot, y AS word, n FROM exts
),
triples AS (
  SELECT path, slot, word, CAST(sum(n) AS BIGINT) AS n
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
paths AS (SELECT DISTINCT path FROM triples),
pairs AS (
  SELECT a.path AS p1, b.path AS p2 FROM paths a JOIN paths b ON a.path < b.path
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
    "dirt_pipeline_exact",
    _PIPE_EXACT_SQL,
    "The full DIRT composition, VALUE-checked end to end: biarc lines "
    "synthesized with 2-letter endpoint words (Porter FIXED POINTS, so "
    "the oracle needs no stemmer) run through the REAL parse → "
    "extraction-UDTF → MI → Lin-similarity DAG; the oracle replays the "
    "whole computation — path strings included — in SQL.  Complements "
    "the rows-only dirt_full_pipeline flagship (whose stemmer-active "
    "vocabulary no oracle can reproduce; DirtDriver.java:394-396).",
)
def dirt_pipeline_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import overlap
    from dirt_hadoop_similarity_spark.operators import mi as mi_ops
    from dirt_hadoop_similarity_spark.plans.pipeline import run_pipeline

    d = F.col("doc_id")
    base = load(spark, sf_dir, "documents").select(
        d,
        F.concat(F.lit("n"), F.expr("char(97 + doc_id % 7)")).alias("x1"),
        F.concat(F.expr("char(97 + doc_id % 5)"), F.lit("v")).alias("vb"),
        F.concat(F.lit("m"), F.expr("char(97 + doc_id % 6)")).alias("y1"),
        F.concat(F.lit("n"), F.expr("char(97 + (doc_id + 3) % 7)")).alias("x2"),
        F.when(d % 2 == 0, "of").otherwise("in").alias("prep"),
        F.concat(F.lit("m"), F.expr("char(97 + (doc_id + 2) % 6)")).alias("y2"),
        (1 + d % 5).alias("n1"),
        (1 + d % 3).alias("n2"),
    )
    svo = base.select(
        F.concat(
            F.col("x1"), F.lit("/NNS/nsubj/2 "),
            F.col("vb"), F.lit("/VBP/ROOT/0 "),
            F.col("y1"), F.lit("/NN/dobj/2"),
        ).alias("ngram"),
        F.col("n1").alias("n"),
    )
    svpo = base.select(
        F.concat(
            F.col("x2"), F.lit("/NNS/nsubj/2 "),
            F.col("vb"), F.lit("/VBP/ROOT/0 "),
            F.col("prep"), F.lit("/IN/prep/2 "),
            F.col("y2"), F.lit("/NN/pobj/3"),
        ).alias("ngram"),
        F.col("n2").alias("n"),
    )
    lines = svo.unionByName(svpo).select(
        F.concat_ws("\t", F.lit("h"), "ngram", F.col("n").cast("string")).alias(
            "value"
        )
    )
    res = run_pipeline(spark, lines)
    paths = res.triples.select("path").distinct()
    a, b = paths.alias("a"), paths.alias("b")
    pairs = a.join(b, F.col("a.path") < F.col("b.path")).select(
        F.col("a.path").alias("p1"), F.col("b.path").alias("p2")
    )
    sims = overlap.similarities(res.mi, pairs, res.sum_mi)
    return sims.select("p1", "p2", F.round("score", 6).alias("score"))


@register(
    "dedup_distinct",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM documents d
    WHERE doc_id = (SELECT min(doc_id) FROM documents d2 WHERE d2.text = d.text)
    """,
    "The canonical first dedup pass: keep one doc (min id) per distinct "
    "text, summarized.",
)
def dedup_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators.dedup import distinct_by_text

    docs = load(spark, sf_dir, "documents")
    return distinct_by_text(docs).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


@register(
    "profile_approx",
    """
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(floor(quantile_cont(l_extendedprice, 0.5) * 10000 + 0.5)
                AS BIGINT) AS exact_median_e4,
           TRUE AS parts_sketch_ok,
           TRUE AS orders_sketch_ok,
           TRUE AS median_sketch_ok
    FROM lineitem
    """,
    "Approximate profiling: approx_count_distinct + percentile_approx — "
    "the sketch ops a 100 TB profile sweep uses instead of exact "
    "distincts.  Sketch internals differ across engines, so the raw "
    "estimates can never value-match an oracle; instead the query "
    "emits the EXACT stats (hash-checkable) plus booleans asserting "
    "each sketch lands within its documented error band (HLL++ rsd "
    "0.05 -> 15% = 3 sigma; percentile_approx rank error 1/accuracy). "
    "The oracle expects the exact values and literal TRUEs — a sketch "
    "outside its band goes hash-red.  This retired the registry's one "
    "permanent rows-only whitelist (r15; raw bounds also pinned in "
    "tests/test_queries_misc.py).",
)
def profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    agg = li.agg(
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("med"),
        F.approx_count_distinct("l_partkey").alias("ap"),
        F.approx_count_distinct("l_orderkey").alias("ao"),
        F.percentile_approx("l_extendedprice", 0.5).alias("am"),
    )
    return agg.select(
        "exact_parts",
        "exact_orders",
        # 1e4 micro-quantization via floor(x*1e4 + 0.5): identical IEEE
        # arithmetic in both engines, unlike round(x, 4) whose HALF_UP
        # acts on the shortest DECIMAL repr in Spark but the binary
        # value in DuckDB — a divergence class this repo already
        # documents for quantized_cosine
        F.floor(F.col("med") * 10000 + 0.5).cast("long")
        .alias("exact_median_e4"),
        (F.abs(F.col("ap") - F.col("exact_parts"))
         <= 0.15 * F.col("exact_parts")).alias("parts_sketch_ok"),
        (F.abs(F.col("ao") - F.col("exact_orders"))
         <= 0.15 * F.col("exact_orders")).alias("orders_sketch_ok"),
        # percentile_approx guarantees a RANK error, not a value error;
        # a 10% value band is far looser than the rank bound realizes
        # on this data and is deterministic per input (sketches have no
        # run-to-run randomness), so the boolean is stable.  coalesce:
        # on an EMPTY corpus both percentiles are NULL and the band
        # comparison is NULL — vacuously in-band, matching the oracle's
        # literal TRUE
        F.coalesce(
            F.abs(F.col("am") - F.col("med"))
            <= 0.10 * F.abs(F.col("med")),
            F.lit(True),
        ).alias("median_sketch_ok"),
    )


@register(
    "unpivot_orderstatus",
    """
    SELECT o_orderpriority, status, round(total, 4) AS total FROM (
      SELECT o_orderpriority, 'O' AS status,
             COALESCE(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0) AS total
      FROM orders GROUP BY o_orderpriority
      UNION ALL
      SELECT o_orderpriority, 'F',
             COALESCE(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0)
      FROM orders GROUP BY o_orderpriority
      UNION ALL
      SELECT o_orderpriority, 'P',
             COALESCE(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 0)
      FROM orders GROUP BY o_orderpriority
    )
    """,
    "Unpivot (melt): wide pivoted columns back to long form via stack — "
    "the inverse of pivot_orderstatus.",
)
def unpivot_orderstatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.sum("o_totalprice"))
        .select(
            "o_orderpriority",
            *[F.coalesce(c, F.lit(0.0)).alias(c) for c in ("O", "F", "P")],
        )
    )
    return wide.selectExpr(
        "o_orderpriority",
        "stack(3, 'O', O, 'F', F, 'P', P) AS (status, total)",
    ).select("o_orderpriority", "status", F.round("total", 4).alias("total"))


@register(
    "percentile_exact",
    """
    SELECT l_returnflag,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS median_price,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p90_price,
           round(percentile_cont(0.99) WITHIN GROUP (ORDER BY l_extendedprice), 4) AS p99_price
    FROM lineitem GROUP BY l_returnflag
    """,
    "Exact interpolated percentiles (ordered aggregate) per group.",
)
def percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("p99_price"),
    )


@register(
    "profile_columns",
    """
    SELECT 'lineitem' AS tbl,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS distinct_supps,
           round(min(l_extendedprice), 4) AS min_price,
           round(max(l_extendedprice), 4) AS max_price,
           CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_flags
    FROM lineitem
    """,
    "Table profiling: cardinalities, ranges, null counts in one pass "
    "(the exact-stats core of a data-quality sweep).",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.agg(
        F.lit("lineitem").alias("tbl"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.round(F.min("l_extendedprice"), 4).alias("min_price"),
        F.round(F.max("l_extendedprice"), 4).alias("max_price"),
        F.sum(F.when(F.col("l_returnflag").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("null_flags"),
    )


@register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "Full CUBE over (status, priority): all 2^2 grouping sets in one "
    "pass — Spark expands to a single shuffle with grouping-id, the "
    "declarative form of hand-maintained marginal tables.",
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )


@register(
    "set_ops_cohorts",
    """
    WITH e AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) < 1998),
         l AS (SELECT DISTINCT o_custkey FROM orders
               WHERE year(o_orderdate) >= 1998)
    SELECT 'retained' AS cohort, CAST(count(*) AS BIGINT) AS n_customers
      FROM (SELECT * FROM e INTERSECT SELECT * FROM l)
    UNION ALL
    SELECT 'churned', CAST(count(*) AS BIGINT)
      FROM (SELECT * FROM e EXCEPT SELECT * FROM l)
    UNION ALL
    SELECT 'new', CAST(count(*) AS BIGINT)
      FROM (SELECT * FROM l EXCEPT SELECT * FROM e)
    """,
    "Native set operators (INTERSECT / EXCEPT): customer cohorts across "
    "two order-date eras — retained, churned, new.  Spark compiles both "
    "to distinct-aggregate + hash join keyed on the column set (partial "
    "aggregation applies), so cohort math needs no hand-built "
    "flag-union plan; year() keeps the date split timezone-free on "
    "TIMESTAMP_NTZ inputs.",
)
def set_ops_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    early = o.filter(F.year("o_orderdate") < 1998).select("o_custkey")
    late = o.filter(F.year("o_orderdate") >= 1998).select("o_custkey")

    def cohort(df: DataFrame, label: str) -> DataFrame:
        # global count, not groupBy: an EMPTY cohort still emits its
        # zero row, exactly like the oracle's scalar count(*)
        return df.agg(F.count(F.lit(1)).alias("n_customers")).select(
            F.lit(label).alias("cohort"), "n_customers"
        )

    return (
        cohort(early.intersect(late), "retained")
        .unionByName(cohort(early.subtract(late), "churned"))
        .unionByName(cohort(late.subtract(early), "new"))
    )


@register(
    "window_range_frame",
    """
    SELECT user_id, CAST(event_id AS BIGINT) AS event_id,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_last_10min
    FROM events
    """,
    "Value-based (RANGE) window frame: per user, events in the trailing "
    "10 minutes including the current one.  Unlike ROWS frames this is "
    "deterministic under timestamp ties (all tied rows enter the "
    "frame), so both engines agree row-for-row.  The frame is over "
    "epoch microseconds in BOTH engines to pin identical arithmetic.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(ts_micros(F.col("ts")))
        .rangeBetween(-600 * 1_000_000, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_last_10min"),
    )


@register(
    "session_windows",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM g
    )
    SELECT user_id,
           CAST(date_diff('microsecond', TIMESTAMP '1970-01-01', min(ts))
                AS BIGINT) AS session_start_us,
           CAST(date_diff('microsecond', TIMESTAMP '1970-01-01',
                          max(ts) + INTERVAL 30 MINUTE)
                AS BIGINT) AS session_end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    "Auto-routed per-SESSION spans (start, end = last event + gap, "
    "event count): Spark's native session_window on uniform traffic, "
    "the gap-bucket span formulation when any single user is "
    "task-sort-sized (the native aggregate merges one user's sessions "
    "in ONE task's sort — measured ~5-10x hot-user straggler, "
    "tools/sessionize_stress.py --spans; operators/scale."
    "session_spans_auto probes and decides, both routes oracle-equal). "
    "Boundary semantics probed and pinned: a gap of exactly 30 minutes "
    "MERGES (strict >), matching sessionize/sessionize_skewsafe. "
    "Streaming note: the native groupBy runs under readStream with a "
    "watermark (state evicted per closed session — bounded by ACTIVE "
    "sessions in the horizon); the registered streaming entry stays the "
    "applyInPandasWithState counter because append-mode emission "
    "withholds sessions the replay's final watermark never passes, "
    "which a value-checked oracle cannot tolerate.  The streaming twin "
    "shares the batch skew exposure — measured 4.06x hot-vs-uniform at "
    "5M events (tools/sessionize_stress.py --streaming, PERF.md round "
    "12): state is hash-partitioned by user, so the hot user's session "
    "merge is single-threaded per micro-batch; no gap-bucket "
    "pre-collapse preserves append semantics, so the skew-safe "
    "streaming shape for count-style outputs is sessionize_stateful.",
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import scale

    ev = load(spark, sf_dir, "events")
    # ADVICE r10: raw unix_micros of an NTZ→TIMESTAMP cast is
    # offset-DEPENDENT (the cast reads the naive ts as session-local
    # time), so at +05:30 it would drift from the oracle's naive
    # micros even though the tz guard admits that zone.  Subtracting
    # the cast epoch literal — whose unix_micros is exactly -offset
    # under any fixed-offset zone — recovers naive micros at every
    # admitted offset; Catalyst constant-folds the literal, so the
    # plan cost is nil.
    from dirt_hadoop_similarity_spark.session import require_fixed_offset_tz

    require_fixed_offset_tz(spark)
    off = F.unix_micros(F.to_timestamp(F.lit("1970-01-01 00:00:00")))
    spans = scale.session_spans_auto(ev)
    return spans.select(
        "user_id",
        (F.unix_micros(F.col("session_start").cast("timestamp")) - off)
        .alias("session_start_us"),
        (F.unix_micros(F.col("session_end").cast("timestamp")) - off)
        .alias("session_end_us"),
        "n_events",
    )


@register(
    "window_sliding",
    """
    SELECT make_timestamp((epoch_us(ts) // 1800000000 - o.off) * 1800000000)
             AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total_value
    FROM events, (SELECT unnest([0, 1]) AS off) o
    WHERE ts IS NOT NULL
    GROUP BY window_start, event_type
    """,
    "Sliding (hopping) window aggregation: 1-hour windows every 30 min, "
    "so each event lands in exactly window/slide = 2 windows.  Spark "
    "expands via the native window() generator; the oracle expands each "
    "event to its two epoch-aligned starts — same alignment rule "
    "(floor(t/slide) - k), timezone-independent for sub-day windows.",
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )


_OUTLIER_Z = 2.5

_OUTLIER_SQL = f"""
WITH m AS (
  SELECT event_id, user_id,
         CAST(round(value * 1000) AS BIGINT) AS mv
  FROM events WHERE value IS NOT NULL
),
stats AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(mv) AS BIGINT) AS s,
         CAST(sum(mv * mv) AS BIGINT) AS q
  FROM m GROUP BY user_id
)
SELECT event_id, user_id, z FROM (
  SELECT m.event_id, m.user_id,
         round((CAST(st.n * m.mv - st.s AS DOUBLE)
                * sqrt(CAST(st.n * (st.n - 1) AS DOUBLE)))
               / (CAST(st.n AS DOUBLE)
                  * sqrt(CAST(st.n * st.q - st.s * st.s AS DOUBLE))), 6) AS z
  FROM m JOIN stats st ON st.user_id = m.user_id
  WHERE st.n >= 2 AND st.n * st.q - st.s * st.s > 0
)
WHERE abs(z) >= {_OUTLIER_Z}
"""


@register(
    "event_user_outliers",
    _OUTLIER_SQL,
    "Per-user z-score outlier detection over event values — the "
    "monitoring/data-quality primitive (anomalous spend, sensor "
    "glitches, bot bursts).  Values are milli-quantized to int64 so "
    "the per-user count/sum/sum-of-squares are EXACT integers (the "
    "dsir_weights/quantized_cosine trick): the z-score is then a "
    "fixed sequence of correctly-rounded IEEE ops on identical "
    "integers, so the DuckDB oracle matches bit-for-bit — no "
    "engine-ordering variance from naive stddev_samp aggregation.  "
    "Scale: one partial-agg groupBy (three integer aggregates per "
    "user) joined back on the user key; z is computed in the "
    "projection.  int64 bound: n*q <= n^2*max(milli value)^2, so "
    "n*|value| must stay under ~3e6 per user (see operators/anomaly).  "
    "n>=2 + positive-variance guard makes the score total.",
)
def event_user_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import anomaly

    events = load(spark, sf_dir, "events")
    stats = anomaly.value_stats(events)
    return anomaly.score(events, stats, z_threshold=_OUTLIER_Z)


_MAD_SQL = """
WITH m AS (
  SELECT event_id, user_id, value,
         CAST(round(value * 1000) AS BIGINT) AS mv
  FROM events
),
med AS (
  SELECT user_id, quantile_cont(mv, 0.5) AS med_mv FROM m GROUP BY user_id
),
dev AS (
  SELECT m.user_id, m.event_id, m.value, m.mv, med.med_mv,
         abs(m.mv - med.med_mv) AS adev
  FROM m JOIN med USING (user_id)
),
mad AS (
  SELECT user_id, quantile_cont(adev, 0.5) AS mad_mv
  FROM dev GROUP BY user_id
)
SELECT d.event_id, d.user_id, d.value,
       d.med_mv AS med_milli, mad.mad_mv AS mad_milli
FROM dev d JOIN mad USING (user_id)
WHERE mad.mad_mv > 0 AND abs(d.mv - d.med_mv) > 3 * mad.mad_mv
"""


@register(
    "event_user_outliers_mad",
    _MAD_SQL,
    "Per-user MAD (median-absolute-deviation) outlier detection — the "
    "ROBUST counterpart to event_user_outliers: a single whale event "
    "inflates the z-score's stddev denominator and masks every other "
    "outlier for that key, while MAD's 50% breakdown point keeps "
    "flagging under heavy tails.  Exactness: values milli-quantized to "
    "int64, then exact interpolated medians (Spark percentile / DuckDB "
    "quantile_cont) land on the 0.5/0.25 grid — exactly-representable "
    "doubles, so |mv - med| > 3*mad is engine-portable bit-for-bit "
    "with no rounding step.  Scale: two per-key exact percentile "
    "aggregates + key-equi-joins; stats side is |keys| rows "
    "(broadcast); flags computed in the projection "
    "(operators/anomaly.mad_stats / mad_score).",
)
def event_user_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dirt_hadoop_similarity_spark.operators import anomaly

    events = load(spark, sf_dir, "events")
    return anomaly.mad_score(events, anomaly.mad_stats(events), k=3.0)


_DAY_US = 86_400_000_000

_COHORT_SQL = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS tm FROM events),
t0 AS (SELECT min(tm) AS t0 FROM ev),
d AS (
  SELECT user_id,
         CAST(((tm - t0) - ((tm - t0) % {_DAY_US})) / {_DAY_US} AS BIGINT)
           AS day
  FROM ev, t0
),
dd AS (SELECT DISTINCT user_id, day FROM d),
coh AS (SELECT user_id, min(day) AS cohort_day FROM dd GROUP BY user_id)
SELECT c.cohort_day, dd.day - c.cohort_day AS day_offset,
       CAST(count(*) AS BIGINT) AS n_users
FROM dd JOIN coh c ON c.user_id = dd.user_id
GROUP BY c.cohort_day, dd.day - c.cohort_day
"""


@register(
    "cohort_retention",
    _COHORT_SQL,
    "Cohort retention matrix (the product-analytics staple): users "
    "bucketed by first-active day, counted at each later day offset.  "
    "Days are ARITHMETIC buckets off the corpus min timestamp — "
    "integer micros, engine-exact, no calendar/timezone semantics (a "
    "date_trunc would drag in week-start and DST conventions).  "
    "Shape: one (user, day) distinct, a per-user min, and a count "
    "aggregate — all partial-agg groupBys keyed on the user.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", ts_micros(F.col("ts")).alias("tm"))
    t0 = ev.agg(F.min("tm").alias("_t0"))
    d = F.col("tm") - F.col("_t0")
    days = ev.crossJoin(F.broadcast(t0)).select(
        "user_id",
        ((d - d % _DAY_US) / _DAY_US).cast("long").alias("day"),
    ).distinct()
    coh = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(coh, "user_id")
        .select("cohort_day", (F.col("day") - F.col("cohort_day"))
                .alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_FUNNEL_SQL = """
WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tm FROM events),
s1 AS (SELECT user_id, min(tm) AS t1 FROM ev
       WHERE event_type = 'signup' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.tm) AS t2
       FROM ev e JOIN s1 ON s1.user_id = e.user_id
       WHERE e.event_type = 'view' AND e.tm > s1.t1 GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.tm) AS t3
       FROM ev e JOIN s2 ON s2.user_id = e.user_id
       WHERE e.event_type = 'purchase' AND e.tm > s2.t2 GROUP BY e.user_id),
n AS (
  SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS event_type,
         CAST(count(*) AS BIGINT) AS n_users FROM s1
  UNION ALL
  SELECT 2, 'view_after_signup', CAST(count(*) AS BIGINT) FROM s2
  UNION ALL
  SELECT 3, 'purchase_after_view', CAST(count(*) AS BIGINT) FROM s3
),
base AS (SELECT n_users AS n1 FROM n WHERE stage = 1)
SELECT stage, event_type, n_users,
       round(CAST(n_users AS DOUBLE) / n1, 6) AS pct_of_entry
FROM n, base
"""


@register(
    "funnel_conversion",
    _FUNNEL_SQL,
    "Ordered funnel conversion (signup -> first view after signup -> "
    "first purchase after that view): per-stage user counts and the "
    "conversion fraction vs the entry stage.  Each stage is a "
    "filtered per-user min joined to the previous stage's timestamp "
    "— strictly-ordered semantics, not mere co-occurrence; all "
    "comparisons on integer micros (differences only, tz-safe).",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", ts_micros(F.col("ts")).alias("tm"))
    s1 = ev.filter(F.col("event_type") == "signup").groupBy("user_id").agg(
        F.min("tm").alias("t1"))
    s2 = (
        ev.filter(F.col("event_type") == "view")
        .join(s1, "user_id")
        .filter(F.col("tm") > F.col("t1"))
        .groupBy("user_id").agg(F.min("tm").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("tm") > F.col("t2"))
        .groupBy("user_id").agg(F.min("tm").alias("t3"))
    )
    n = (
        s1.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).cast("long").alias("stage"),
                F.lit("signup").alias("event_type"), "n_users")
        .unionByName(
            s2.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).cast("long").alias("stage"),
                F.lit("view_after_signup").alias("event_type"), "n_users"))
        .unionByName(
            s3.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).cast("long").alias("stage"),
                F.lit("purchase_after_view").alias("event_type"), "n_users"))
    )
    base = n.filter(F.col("stage") == 1).select(
        F.col("n_users").alias("_n1"))
    return n.crossJoin(F.broadcast(base)).select(
        "stage", "event_type", "n_users",
        # try_divide: a corpus with ZERO signups (legitimate under
        # upstream filtering) makes the entry count 0 — the fraction is
        # then NULL (DuckDB's x/0 result, which the oracle already
        # emits), not a DIVIDE_BY_ZERO crash under ANSI mode
        F.round(F.try_divide(F.col("n_users").cast("double"),
                             F.col("_n1")), 6)
        .alias("pct_of_entry"),
    )
