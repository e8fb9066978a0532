"""End-to-end training-data curation funnel.

Composes the engine's curation operators into the pipeline a real
pretraining-data run executes, in the canonical order:

  ingest -> exact dedup -> near-dup removal (MinHash/LSH)
         -> quality + language gate -> token-budget selection

This is the "whole point" composition: each stage is an operator that is
individually oracle-checked elsewhere (dedup_exact, dedup_minhash_lsh,
text_quality, text_langid, text_token_budget); here they run as ONE
lazy DataFrame plan whose output is the per-stage funnel summary
(docs surviving + tokens surviving), the number every curation run
reports first.

Scale design (the part that must survive 100 TB):
  * exact-dedup keeper flag = ``min(doc_id) over (partition by
    md5(text))`` — a window keyed on the digest: a hash partition on a
    32-byte key, no global sort, no driver state.  The lazy plan
    computes this window once per consumer (the flag branch and the
    near-dup branch); a real 100 TB run materializes the exact-deduped
    corpus between stages, as stage outputs are checkpointed anyway,
    making it one shuffle total.
  * near-dup candidate generation runs ON the exact-deduped survivors,
    deliberately: exact-duplicate clusters share identical MinHash
    signatures, so running LSH pre-dedup inflates band buckets
    quadratically in the duplication factor (1M copies of a boilerplate
    page -> 10^12 candidate pairs).  Dedup-first keeps bucket sizes
    bounded by NEAR-duplication only.
  * near-dup drops come from the banded-LSH equi-join
    (`dedup.minhash_near_duplicates`) on the already-exact-deduped set;
    the drop list (ids to remove) is bounded by real duplication and
    enters as the build side of a join, never a collect.
  * the token-budget cut is a TWO-LEVEL cumulative sum: quality scores
    are rounded to 6 dp, so there are at most ~1e6 distinct bucket
    values regardless of corpus size.  Per-bucket token totals partial-
    aggregate map-side; the running total over buckets is a window on
    that tiny relation; only the ordering WITHIN the single boundary
    bucket needs a doc-level window, and that window is PARTITIONED BY
    the bucket value — never a single-partition global sort of the
    corpus (the classic scale-killer in naive "sort by quality, take
    until budget" implementations).
  * the budget itself is a fraction of surviving tokens, computed as a
    1-row aggregate cross-joined back (same pattern as counting.global_n
    per SURVEY S6) — no driver round-trip in the plan.

Reference parity: the reference has no curation pipeline (it is a DIRT
similarity engine); this module is part of the training-data extension
surface mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.functions import textfns
from dirt_hadoop_similarity_spark.operators import dedup
from dirt_hadoop_similarity_spark.operators._tracked_cache import CacheTracker

#: tracked caches (the textsim release_caches contract).  NOTE: the
#: funnel composes dedup operators, which cache in dedup's own tracker
#: — callers wanting full cleanup call ``dedup.release_caches()`` too,
#: or ``_tracked_cache.release_all()``.
_CACHES = CacheTracker()


def release_caches() -> int:
    """Unpersist every cached relation this module has created since
    the last release (materialize consumers first).  Returns the
    number released."""
    return _CACHES.release()


STAGES = (
    "1_ingest",
    "2_exact_dedup",
    "3_near_dedup",
    "4_quality_lang",
    "5_token_budget",
)


def annotate(docs: DataFrame, *, near_dup_min_est_jaccard: float = 0.5,
             min_quality: float = 0.35, langs: tuple[str, ...] = ("en",),
             text_col: str = "text", id_col: str = "doc_id",
             cache_scored: bool = True) -> DataFrame:
    """Per-document survival flags for funnel stages 2-4.

    Returns (id, n_tokens, quality, predicted_lang, keep_exact,
    keep_near, keep_quality) — text is projected away once the flags are
    computed, so downstream aggregation never shuffles payloads.

    ``cache_scored``: the scored relation (tokenize + quality HOFs +
    md5-keeper window) feeds BOTH the near-dup drops branch (via its
    exact-dedup survivors) and the final flag join — without a cut it
    computes twice per evaluation.  Caching it here is the local-mode
    rendering of the checkpoint a real 100 TB run takes anyway (the
    exact-deduped survivors are a stage output).
    """
    t = F.col(text_col)
    keeper = Window.partitionBy(F.md5(t))
    # tokenize ONCE into materialized columns: the metric expressions
    # are interpreted HOFs, outside codegen subexpression elimination,
    # so inlined variants re-split the text per metric (~10x per row for
    # quality + lang-id; negligible at short doc lengths, linear in text
    # size at real ones)
    base = docs.select(
        F.col(id_col),
        t,
        textfns.tokens(t).alias("_toks"),
        textfns.tokens(F.lower(t)).alias("_ltoks"),
    )
    # bind the per-language marker counts too: the language-ID argmax
    # references each score at ~2(L-1) comparison sites, and each score
    # is an interpreted HOF filter over _ltoks — bound once here, the
    # argmax compares cheap int columns (the r13 text_langid fix,
    # measured 0.43x on that query at sf0.1)
    langscored = base.select(
        F.col(id_col),
        t,
        "_toks",
        "_ltoks",
        *[
            textfns._marker_hits(F.col("_ltoks"), markers).alias(f"_s_{lang}")
            for lang, markers in textfns.LANG_MARKERS.items()
        ],
    )
    scored = langscored.select(
        F.col(id_col),
        t,
        F.size("_toks").cast("long").alias("n_tokens"),
        textfns.quality_score_from(
            F.col("_toks"), F.col("_ltoks"), t
        ).alias("quality"),
        textfns.lang_id_from_scores({
            lang: F.col(f"_s_{lang}") for lang in textfns.LANG_MARKERS
        }).alias("predicted_lang"),
        (F.col(id_col) == F.min(id_col).over(keeper)).alias("keep_exact"),
    )
    if cache_scored:
        scored = _CACHES.track(scored)

    survivors = scored.filter(F.col("keep_exact"))
    drops = (
        dedup.minhash_near_duplicates(
            survivors.select(id_col, text_col), text_col=text_col,
            id_col=id_col,
        )
        .filter(F.col("est_jaccard") >= near_dup_min_est_jaccard)
        # greedy keep-the-oldest policy: of each candidate pair the
        # larger id is dropped (id_a < id_b by construction)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dropped", F.lit(True))
    )

    return (
        scored.drop(text_col)
        .join(drops, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            "quality",
            "predicted_lang",
            "keep_exact",
            (F.col("keep_exact") & F.col("_dropped").isNull()).alias("keep_near"),
            (
                F.col("keep_exact")
                & F.col("_dropped").isNull()
                & F.col("predicted_lang").isin(*langs)
                & (F.col("quality") >= min_quality)
            ).alias("keep_quality"),
        )
    )


def budget_selection(gated: DataFrame, budget_fraction: float = 0.5,
                     id_col: str = "doc_id") -> DataFrame:
    """Highest-quality-first token-budget cut over quality-gated docs.

    Selection order is (quality DESC, id ASC); a document is kept while
    the running token total through it stays within ``budget_fraction``
    of the gated corpus' total tokens.  Adds ``in_budget``.
    """
    budget = gated.agg(
        F.floor(F.sum("n_tokens") * F.lit(budget_fraction))
        .cast("long")
        .alias("_budget")
    )

    bucket_totals = (
        gated.groupBy("quality")
        .agg(F.sum("n_tokens").alias("_bucket_tokens"))
    )
    over_buckets = (
        Window.orderBy(F.col("quality").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_cum = bucket_totals.select(
        "quality",
        F.coalesce(F.sum("_bucket_tokens").over(over_buckets), F.lit(0))
        .cast("long")
        .alias("_tokens_before_bucket"),
    )

    in_bucket = (
        Window.partitionBy("quality")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        gated.join(bucket_cum, "quality")
        .join(F.broadcast(budget))
        .withColumn(
            "_tokens_through_doc",
            F.col("_tokens_before_bucket")
            + F.sum("n_tokens").over(in_bucket).cast("long"),
        )
        .withColumn("in_budget", F.col("_tokens_through_doc") <= F.col("_budget"))
        .drop("_tokens_before_bucket", "_tokens_through_doc", "_budget")
    )


def funnel_summary(docs: DataFrame, *, near_dup_min_est_jaccard: float = 0.5,
                   min_quality: float = 0.35, langs: tuple[str, ...] = ("en",),
                   budget_fraction: float = 0.5, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """The funnel report: (stage, n_docs, n_tokens), one row per stage.

    Stages 1-4 fall out of ONE aggregate over the annotated relation
    (conditional sums on the survival flags); stage 5 adds the budget
    cut over the gated subset.  The annotated relation is cached — it is
    a handful of scalars per document and is consumed by both branches.
    """
    ann = _CACHES.track(
        annotate(
            docs,
            near_dup_min_est_jaccard=near_dup_min_est_jaccard,
            min_quality=min_quality,
            langs=langs,
            text_col=text_col,
            id_col=id_col,
        )
    )

    def _stage(flag, suffix):
        cond = F.lit(True) if flag is None else F.col(flag)
        # coalesce: SUM over an EMPTY corpus is NULL — the funnel report
        # for an empty input is five (0, 0) rows (stage 5 already
        # coalesces), matching the oracle
        return [
            F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0))
            .cast("long").alias(f"d_{suffix}"),
            F.coalesce(F.sum(F.when(cond, F.col("n_tokens")).otherwise(0)),
                       F.lit(0))
            .cast("long")
            .alias(f"t_{suffix}"),
        ]

    wide = ann.agg(
        *_stage(None, "1"),
        *_stage("keep_exact", "2"),
        *_stage("keep_near", "3"),
        *_stage("keep_quality", "4"),
    )

    kept = budget_selection(
        ann.filter("keep_quality"), budget_fraction=budget_fraction,
        id_col=id_col,
    ).filter("in_budget")
    stage5 = kept.agg(
        F.count(F.lit(1)).cast("long").alias("d_5"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long").alias("t_5"),
    )

    stack_args = ", ".join(
        f"'{name}', d_{i + 1}, t_{i + 1}" for i, name in enumerate(STAGES)
    )
    return (
        wide.join(F.broadcast(stage5))
        .select(
            F.expr(
                f"stack({len(STAGES)}, {stack_args}) AS (stage, n_docs, n_tokens)"
            )
        )
    )


def curate(docs: DataFrame, *, near_dup_min_est_jaccard: float = 0.5,
           min_quality: float = 0.35, langs: tuple[str, ...] = ("en",),
           budget_fraction: float = 0.5, text_col: str = "text",
           id_col: str = "doc_id") -> DataFrame:
    """The curated corpus itself: input rows that survive all stages."""
    ann = annotate(
        docs,
        near_dup_min_est_jaccard=near_dup_min_est_jaccard,
        min_quality=min_quality,
        langs=langs,
        text_col=text_col,
        id_col=id_col,
    )
    kept = budget_selection(
        ann.filter("keep_quality"), budget_fraction=budget_fraction,
        id_col=id_col,
    ).filter("in_budget")
    return docs.join(kept.select(id_col), id_col, "left_semi")


def pack_sequences(docs: DataFrame, seq_len: int = 2048,
                   id_col: str = "doc_id",
                   tokens_col: str = "n_tokens") -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in a
    deterministic corpus order and assigned to fixed-``seq_len``
    training bins by their global token offset (``bin = floor(offset /
    seq_len)`` — the doc starts in that bin; boundary-crossing docs
    spill into the next, as GPT-style packing splits them).

    The global token offset is the budget_selection two-level cumsum,
    NOT a corpus-wide window: docs are hash-bucketed (same md5
    derivation as dataset splits, so layout is repartition-stable),
    bucket token totals prefix-sum over the ≤GRANULARITY bucket
    relation, and each doc adds its within-bucket cumsum — the only
    unpartitioned window input is the bucket relation.  Adds
    ``bin_id`` and ``token_offset``.
    """
    from dirt_hadoop_similarity_spark.operators.sampling import split_bucket

    with_bucket = docs.withColumn(
        "_bucket", split_bucket(F.col(id_col), salt="pack")
    )
    bucket_totals = with_bucket.groupBy("_bucket").agg(
        F.sum(tokens_col).alias("_bucket_tokens")
    )
    over_buckets = (
        Window.orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bucket_cum = bucket_totals.select(
        "_bucket",
        F.coalesce(F.sum("_bucket_tokens").over(over_buckets), F.lit(0))
        .cast("long")
        .alias("_tokens_before_bucket"),
    )
    in_bucket = (
        Window.partitionBy("_bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        with_bucket.join(bucket_cum, "_bucket")
        .withColumn(
            "token_offset",
            (
                F.col("_tokens_before_bucket")
                + F.coalesce(F.sum(tokens_col).over(in_bucket), F.lit(0))
            ).cast("long"),
        )
        .withColumn(
            "bin_id", F.floor(F.col("token_offset") / seq_len).cast("long")
        )
        .drop("_bucket", "_tokens_before_bucket")
    )


def corpus_diff(old: DataFrame, new: DataFrame, key: str,
                text_col: str = "text") -> DataFrame:
    """Snapshot delta for dataset versioning: which documents were
    added / removed / changed / unchanged between two corpus versions.

    Change detection is by content digest, not text comparison — each
    side collapses to (key, md5) before the join, so at 100 TB the
    full-outer join shuffles 16-byte digests co-partitioned on the key,
    never document payloads.  Output: (key, status).
    """
    o = old.select(F.col(key), F.md5(F.col(text_col)).alias("_old_h"))
    n = new.select(F.col(key), F.md5(F.col(text_col)).alias("_new_h"))
    status = (
        F.when(F.col("_old_h").isNull(), F.lit("added"))
        .when(F.col("_new_h").isNull(), F.lit("removed"))
        .when(F.col("_old_h") != F.col("_new_h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(n, key, "full_outer").select(key, status.alias("status"))


def redact_and_score(docs: DataFrame, threshold: float = 0.0,
                     text_col: str = "text") -> DataFrame:
    """Stateless ingest transform: PII-redact the text, then attach the
    quality-model logit and keep decision (scored over the REDACTED
    text — the corpus stores what was scored).  No state, no window, so
    it runs identically on a static or streaming DataFrame; leave the
    stateful passes (dedup, budget) to downstream batch.
    """
    red = textfns.pii_redact(F.col(text_col))
    out = docs.withColumn(text_col, red)
    t = F.col(text_col)
    logit = textfns.classifier_logit_from(
        textfns.tokens(t), textfns.tokens(F.lower(t)), t)
    return (
        out.withColumn("clf_logit", logit)
        .withColumn("clf_keep", logit > threshold)
    )


def chunk_documents(docs: DataFrame, max_tokens: int = 64, stride: int = 48,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Split documents into overlapping token windows — the
    context-length chunking stage that feeds embedding models and
    retrieval indexes (stride < max_tokens keeps ``max_tokens − stride``
    tokens of overlap so no boundary-spanning passage is lost; stride =
    max_tokens is disjoint chunking).

    Map-only: tokenize once, generate the window starts with
    ``sequence``, explode — the chunking fuses into whatever scan feeds
    it, no shuffle at any corpus size (contrast ``pack_sequences``,
    which needs global order: chunking is per-document, packing is
    cross-document).  Documents with no tokens produce no chunks.

    Output: (doc_id, chunk_id, start_tok, n_tokens, chunk_hash) — the
    digest stands in for chunk text so downstream joins move 16-byte
    keys; re-derive the text by re-slicing at (start_tok, n_tokens).
    """
    if max_tokens < 1:
        raise ValueError(f"max_tokens must be >= 1, got {max_tokens}")
    if not 1 <= stride <= max_tokens:
        raise ValueError(
            f"stride must be in [1, max_tokens], got {stride}")
    base = docs.select(
        F.col(id_col), textfns.tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= 1)
    chunks = base.select(
        F.col(id_col),
        F.col("t"),
        F.posexplode(
            F.expr(f"sequence(0, size(t) - 1, {stride})")
        ).alias("chunk_id", "start_tok"),
    )
    piece = F.expr(f"slice(t, start_tok + 1, {max_tokens})")
    return chunks.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_tokens"),
        F.md5(F.array_join(piece, " ")).alias("chunk_hash"),
    )
