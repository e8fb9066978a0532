"""End-to-end DIRT pipeline: one lazy DataFrame DAG.

The reference's five MapReduce jobs with S3-materialized text between
every stage (DirtDriver.java:981-1092) collapse into:

    read → parse → explode(extract) → groupBys (triples + marginals)
         → broadcast-join word margins → join path margins → MI + filter
         → [branch A: ΣMI per (path,slot)]
         → [branch B: MI ⋉ member paths → one X/Y feature-map row per path]
         → join pivoted ΣMI denominators per path
         → per-pair lookup of both paths → map intersection → sqrt(simX·simY)

The only true barriers are the scalar N collect and the cache points:
``triples`` feeds three marginals, ``mi`` feeds both branches.

``run_pipeline`` sets no session conf: every plan runs under the conf of
the session it is given.  Sizing is the caller's decision; the CLI makes
it once, on a job-owned session (``__main__._job_session``).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from dirt_hadoop_similarity_spark.operators import counting, mi as mi_ops, overlap
from dirt_hadoop_similarity_spark.operators.extraction import extractions, facts
from dirt_hadoop_similarity_spark.sources.biarcs import parse_biarc_lines, with_tokens


def rebalance_for_extraction(parsed: DataFrame, spark: SparkSession) -> DataFrame:
    """The extraction UDF is a pure map, so its parallelism equals the
    input's split count.  A tiny local corpus (one parquet/text split)
    would run the UDF serially on one core; rebalance up to the
    session's parallelism.  Real corpora have >= cores splits, making
    this a no-op — a guard, not a standing shuffle tax.

    Caveat: the ``.rdd`` partition probe materializes upstream query
    stages when the input's lineage contains a shuffle (AQE must run
    them to know the partitioning) — for the in-repo callers the
    lineage is a narrow scan/projection (no job), but callers feeding
    a shuffle-bearing DataFrame through ``run_pipeline`` should
    pre-partition it themselves and accept the probe's cost."""
    target = spark.sparkContext.defaultParallelism
    if parsed.rdd.getNumPartitions() < target:
        return parsed.repartition(target)
    return parsed


@dataclass
class DirtResult:
    """Every intermediate of the pipeline, lazily defined."""

    triples: DataFrame
    word_margins: DataFrame
    path_margins: DataFrame
    n_total: int
    mi: DataFrame
    sum_mi: DataFrame
    sims: DataFrame | None


def run_pipeline(
    spark: SparkSession,
    corpus: str | DataFrame,
    pairs_df: DataFrame | None = None,
) -> DirtResult:
    """Run the full DIRT computation.

    ``corpus``: path to biarc text files, or a DataFrame of their raw
    lines (a ``value`` column, e.g. ``spark.read.text``).  ``pairs_df``:
    (p1, p2[, label]) path pairs to score; if None, stops after ΣMI.
    ``triples`` and ``mi`` come back cached; the caller releases them.
    ``n_total`` is the triple mass N, 0 when no triple survived
    (``mi_table`` floors it at 1).
    """
    if isinstance(corpus, str):
        corpus = spark.read.text(corpus)
    parsed = rebalance_for_extraction(with_tokens(parse_biarc_lines(corpus)), spark)

    triples = counting.triples(facts(extractions(parsed))).cache()

    sw = counting.word_margins(triples)
    ps = counting.path_margins(triples)
    try:
        n_total = counting.global_n(triples)
    except BaseException:
        # the pipeline's one action: on failure the caller gets no
        # handle to release the cache it registered
        triples.unpersist()
        raise

    mi_df = mi_ops.mi_table(triples, sw, ps, n_total).cache()
    sum_mi_df = mi_ops.sum_mi(mi_df)

    sims = None
    if pairs_df is not None:
        sims = overlap.similarities(mi_df, pairs_df, sum_mi_df)

    return DirtResult(
        triples=triples,
        word_margins=sw,
        path_margins=ps,
        n_total=n_total,
        mi=mi_df,
        sum_mi=sum_mi_df,
        sims=sims,
    )
