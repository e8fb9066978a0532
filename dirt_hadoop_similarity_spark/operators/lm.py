"""N-gram language-model quality scoring — the CCNet-style "perplexity
filter" (Wenzek et al. 2020, arXiv:1911.00359): train a small LM on
trusted target text (there: Wikipedia via KenLM; here: an in-corpus
target subset via bigram counts), score every document by its per-token
log-probability, and filter or tier the corpus on that score.

Spark-first shape: the LM "model" is a pair of count DataFrames
(unigrams, bigrams) — trainable offline, persistable as parquet, and
joinable; scoring computes integer micro-nat log-probs once per
distinct bigram TYPE of the scored batch (vocab-bounded) and equi-joins
them to per-document bigram counts — never a per-token UDF, never a
broadcast of a corpus-vocab model.  Quantizing before the per-document
sum (the quantized_cosine trick) makes scores exact integer arithmetic:
order-independent across partitionings and engines, value-checkable by
the DuckDB oracle.  Because a document's score depends only on (model,
document), scoring is micro-batch independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.functions.textfns import tokens
from dirt_hadoop_similarity_spark.operators._tracked_cache import CacheTracker

MICRO = 1_000_000

#: tracked caches (the textsim release_caches contract): the scoring
#: operators cache relations their returned lazy plans still read, so
#: they cannot unpersist eagerly.  Long-lived sessions — and especially
#: a per-micro-batch scorer, which otherwise leaks two cached relations
#: PER BATCH — call :func:`release_caches` after materializing the
#: consumers.
_CACHES = CacheTracker()


def release_caches() -> int:
    """Unpersist every cached relation this module has created since
    the last release (see :class:`CacheTracker.release` for the
    materialize-first contract).  Returns the number released."""
    return _CACHES.release()

_BIGRAMS = (
    "transform(sequence(0, size(t) - 2),"
    " i -> struct(t[i] AS v, t[i + 1] AS w))"
)


def _tokenized(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    return docs.select(
        F.col(id_col), tokens(F.lower(F.col(text_col))).alias("t")
    )


def train_bigram_lm(target_docs: DataFrame,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> tuple[DataFrame, DataFrame]:
    """Train the LM: returns ``(unigrams, bigrams)`` count tables —
    ``(u, cu)`` and ``(v, w, cb)`` over lowercase whitespace tokens.
    This pair IS the persistable model (two parquet writes);
    :func:`score_documents` recovers the scalars (token count, vocab
    size) from the unigram table, so nothing else needs saving."""
    base = _tokenized(target_docs, text_col, id_col)
    uni = (
        base.select(F.explode("t").alias("u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    bi = (
        base.filter(F.size("t") >= 2)
        .select(F.explode(F.expr(_BIGRAMS)).alias("p"))
        .select(F.col("p.v").alias("v"), F.col("p.w").alias("w"))
        .groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    return uni, bi


def score_documents(docs: DataFrame, uni: DataFrame, bi: DataFrame,
                    alpha: float = 0.5,
                    mean_lp_min_micro: int = -8_000_000,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Score documents under a trained add-1-smoothed interpolated
    bigram LM:

        p(w | v) = alpha * (c_bi(v,w) + 1) / (c_uni(v) + V)
                 + (1-alpha) * (c_uni(w) + 1) / (N + V)

    with N = target token count and V = |target vocab| + 1 (one shared
    out-of-vocabulary class — unseen words hit the c=0 smoothing floor
    through the left joins, no special casing).  A document's score is
    the sum of log p over its token transitions; dividing by
    ``n_transitions`` gives mean log-prob (perplexity = exp(-mean)).
    The output keeps the exact integer pieces instead of the division:
    ``lp_micro_sum`` (micro-nats) and ``n_transitions``, plus ``keep``
    = lp_micro_sum >= mean_lp_min_micro * n_transitions — an integer
    comparison, so the threshold decision is also engine-exact.
    Documents with < 2 tokens have no transitions: score 0, keep false.

    Scale: log-probs are computed once per DISTINCT bigram type of the
    scored batch (vocab-bounded, not corpus-bounded) and cached; the
    corpus-sized relations only ever shuffle (doc_id, v, w, count)
    rows.  The scalar (N, V) closes over a 1-row broadcast crossJoin.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0,1], got {alpha}")

    doc_bi = (
        _tokenized(docs, text_col, id_col)
        .filter(F.size("t") >= 2)
        .select(F.col(id_col), F.explode(F.expr(_BIGRAMS)).alias("p"))
        .select(F.col(id_col), F.col("p.v").alias("v"),
                F.col("p.w").alias("w"))
        .groupBy(id_col, "v", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    doc_bi = _CACHES.track(doc_bi)  # feeds the type list AND the per-doc sum

    scal = uni.agg(
        F.sum("cu").alias("n_tok"),
        (F.count(F.lit(1)) + 1).alias("vsize"),
    )
    types = doc_bi.select("v", "w").distinct()
    lp = (
        types.join(bi, ["v", "w"], "left")
        .join(uni.select(F.col("u").alias("v"),
                         F.col("cu").alias("cv")), "v", "left")
        .join(uni.select(F.col("u").alias("w"),
                         F.col("cu").alias("cw")), "w", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "v", "w",
            F.round(
                F.log(
                    alpha * ((F.coalesce("cb", F.lit(0)) + 1.0)
                             / (F.coalesce("cv", F.lit(0)) + F.col("vsize")))
                    + (1.0 - alpha) * ((F.coalesce("cw", F.lit(0)) + 1.0)
                                       / (F.col("n_tok") + F.col("vsize")))
                ) * MICRO
            ).cast("long").alias("lp_micro"),
        )
    )
    lp = _CACHES.track(lp)

    scored = (
        doc_bi.join(lp, ["v", "w"])
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_transitions"),
            F.sum(F.col("c") * F.col("lp_micro")).alias("lp_micro_sum"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_transitions", F.lit(0)).cast("long")
            .alias("n_transitions"),
            F.coalesce("lp_micro_sum", F.lit(0)).cast("long")
            .alias("lp_micro_sum"),
            (
                (F.coalesce("n_transitions", F.lit(0)) > 0)
                & (F.coalesce("lp_micro_sum", F.lit(0))
                   >= F.lit(int(mean_lp_min_micro))
                   * F.coalesce("n_transitions", F.lit(0)))
            ).alias("keep"),
        )
    )


def bigram_lm_scores(docs: DataFrame, is_target: Column,
                     alpha: float = 0.5,
                     mean_lp_min_micro: int = -8_000_000,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Train-and-score in one call: the LM is trained on the
    ``is_target`` subset of ``docs`` and every document is scored under
    it (see :func:`score_documents` for the model and output contract).
    For the train-offline / score-at-ingest split, call
    :func:`train_bigram_lm` + :func:`score_documents` directly."""
    uni, bi = train_bigram_lm(
        docs.filter(is_target), text_col=text_col, id_col=id_col
    )
    return score_documents(
        docs, _CACHES.track(uni), bi,
        alpha=alpha, mean_lp_min_micro=mean_lp_min_micro,
        text_col=text_col, id_col=id_col,
    )


def _floordiv(a: Column, b: Column) -> Column:
    """Exact floor division of int64 columns (b > 0), identical across
    engines over the FULL int64 domain: truncating ``div`` minus 1 when
    the division was inexact with mismatched signs.  Spark's ``div``
    alone truncates toward zero while floor is needed for negative
    log-prob sums.  This spelling (vs subtracting the positive remainder
    first) never forms ``a - pm``, which underflows int64 for ``a``
    within ``b`` of the domain minimum — ANSI mode would raise
    ARITHMETIC_OVERFLOW there (ADVICE r7); the prior double-division
    spelling was exact only for |a| < 2^53 (VERDICT r6)."""
    inexact_neg = ((a % b) != 0) & ((a < 0) != (b < 0))
    return F.call_function("div", a, b) - F.when(
        inexact_neg, F.lit(1)
    ).otherwise(F.lit(0))


def perplexity_tiers(scored: DataFrame, coarse: int = 100_000,
                     id_col: str = "doc_id") -> DataFrame:
    """CCNet-style head/middle/tail corpus tiering (Wenzek et al. 2020
    §4.3): split the scored corpus into three equal-mass tiers by mean
    log-prob — "head" is the most target-like third, "tail" the least;
    CCNet trains on head+middle and ships the tiers as quality labels.

    Input: :func:`score_documents` output (id, n_transitions,
    lp_micro_sum, …).  Unscorable docs (no transitions) are excluded.
    Output: (id, mean_lp_micro, tier) with tier ∈ head/middle/tail.

    The tier cuts are EXACT 1/3 and 2/3 order statistics of the integer
    mean log-prob, found WITHOUT a global sort via a two-level value
    spine (the same trick as sequence_packing's offset cumsum):

      1. docs count into coarse value buckets (floor(mean / coarse));
         a cumsum over the BUCKET spine — bounded by value-range /
         coarse, a few hundred rows regardless of corpus size —
         locates the bucket containing each cut and the doc-mass
         before it;
      2. only inside those (≤2) buckets, per-VALUE counts + a cumsum
         ordered by value find the smallest value whose cumulative
         mass reaches the cut.

    Nothing corpus-sized is ever globally sorted or single-partition
    windowed; the two spines are bounded relations.  All arithmetic is
    integer (floor-div means, ceil-div cuts), so the tier assignment is
    engine-exact and the DuckDB oracle checks every label.
    """
    from pyspark.sql import Window

    # cached: means feeds four consumers (the N count, the bucket
    # spine, the in-bucket value counts, and the final label pass) and
    # its lineage re-runs the per-doc scoring aggregate — two narrow
    # columns per doc, the standard cache/checkpoint cut point
    means = (
        scored.filter(F.col("n_transitions") > 0)
        .select(
            F.col(id_col),
            _floordiv(
                F.col("lp_micro_sum"), F.col("n_transitions")
            ).alias("mean_lp_micro"),
        )
    )
    means = _CACHES.track(means)
    b = _floordiv(F.col("mean_lp_micro"), F.lit(int(coarse)))
    bucketed = means.select(id_col, "mean_lp_micro", b.alias("_b"))

    # bucket spine: counts + cumulative mass (bounded window)
    spine = bucketed.groupBy("_b").agg(F.count(F.lit(1)).alias("_cb"))
    wsp = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    spine = spine.withColumn("_cc", F.sum("_cb").over(wsp))

    # the two cuts: ceil(N/3) and ceil(2N/3), as a 2-row relation
    nn = means.agg(F.count(F.lit(1)).alias("_n"))
    cuts = nn.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("lo").alias("cut_id"),
                    ((F.col("_n") + 2) - ((F.col("_n") + 2) % 3))
                    .cast("long").alias("_c3"),
                ),
                F.struct(
                    F.lit("hi").alias("cut_id"),
                    ((F.col("_n") * 2 + 2) - ((F.col("_n") * 2 + 2) % 3))
                    .cast("long").alias("_c3"),
                ),
            )
        ).alias("s")
    ).select(
        F.col("s.cut_id"),
        (F.col("s._c3") / 3).cast("long").alias("_cut"),
    )

    # level 1: the bucket holding each cut, and the mass before it
    sel = (
        spine.crossJoin(F.broadcast(cuts))
        .filter(F.col("_cc") >= F.col("_cut"))
        .groupBy("cut_id", "_cut")
        .agg(F.min_by(F.struct("_b", "_cc", "_cb"), "_b").alias("s"))
        .select(
            "cut_id", "_cut",
            F.col("s._b").alias("_b"),
            (F.col("s._cc") - F.col("s._cb")).alias("_before"),
        )
    )

    # level 2: exact threshold value inside the selected bucket(s)
    inb = bucketed.join(F.broadcast(sel), "_b")
    vc = inb.groupBy("cut_id", "_cut", "_before", "mean_lp_micro").agg(
        F.count(F.lit(1)).alias("_cv")
    )
    wv = Window.partitionBy("cut_id").orderBy("mean_lp_micro").rowsBetween(
        Window.unboundedPreceding, 0
    )
    thr = (
        vc.withColumn("_cum", F.sum("_cv").over(wv) + F.col("_before"))
        .filter(F.col("_cum") >= F.col("_cut"))
        .groupBy("cut_id")
        .agg(F.min("mean_lp_micro").alias("_thr"))
        .groupBy()
        .agg(
            F.max(F.when(F.col("cut_id") == "lo", F.col("_thr")))
            .alias("_t_lo"),
            F.max(F.when(F.col("cut_id") == "hi", F.col("_thr")))
            .alias("_t_hi"),
        )
    )
    return (
        means.crossJoin(F.broadcast(thr))
        .select(
            id_col, "mean_lp_micro",
            F.when(F.col("mean_lp_micro") <= F.col("_t_lo"), F.lit("tail"))
            .when(F.col("mean_lp_micro") <= F.col("_t_hi"), F.lit("middle"))
            .otherwise(F.lit("head"))
            .alias("tier"),
        )
    )
