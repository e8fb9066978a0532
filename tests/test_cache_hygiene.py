"""Tracked-cache hygiene: operators that cache relations their returned
lazy plans still read must register them with their module's
CacheTracker, so long-lived sessions (notebooks, oracle sweeps, and
especially per-micro-batch foreachBatch scorers) can release them
instead of leaking one cached relation per call.

The contract generalizes textsim.release_caches (VERDICT r6 ADVICE #4)
to every caching operator module; test_textsim pins the textsim side.
"""

import pyspark.sql.functions as F


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _drain(spark):
    from dirt_hadoop_similarity_spark.operators import _tracked_cache

    _tracked_cache.release_all()
    spark.catalog.clearCache()


def test_lm_scoring_caches_are_tracked_and_released(spark, sf_dir):
    from dirt_hadoop_similarity_spark.operators import lm

    _drain(spark)
    cm = _cache_manager(spark)
    assert cm.isEmpty()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for _ in range(2):  # two back-to-back scoring passes, one session
        lm.bigram_lm_scores(docs, F.col("lang") == "en").count()
    assert not cm.isEmpty()
    # 3 tracked caches per pass: the training unigrams + the per-doc
    # bigram relation + the per-type log-prob table
    assert lm.release_caches() == 6
    assert cm.isEmpty()


def test_perplexity_tiers_cache_is_tracked(spark, sf_dir):
    from dirt_hadoop_similarity_spark.operators import lm

    _drain(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = lm.bigram_lm_scores(docs, F.col("lang") == "en")
    lm.perplexity_tiers(scored).count()
    assert lm.release_caches() == 4  # 3 scoring caches + the means cut
    assert _cache_manager(spark).isEmpty()


def test_dedup_near_dup_caches_are_tracked_and_released(spark, sf_dir):
    from dirt_hadoop_similarity_spark.operators import dedup

    _drain(spark)
    cm = _cache_manager(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dedup.verified_near_duplicates(docs).count()
    assert not cm.isEmpty()
    # signature cache (inside minhash_near_duplicates) + candidate
    # relation + the verification shingles
    assert dedup.release_caches() == 3
    assert cm.isEmpty()


def test_sampling_dsir_caches_are_tracked(spark, sf_dir):
    from dirt_hadoop_similarity_spark.operators import sampling

    _drain(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sampling.dsir_weights(docs, F.col("lang") == "en").count()
    assert sampling.release_caches() == 2  # dcounts + bucket stats
    assert _cache_manager(spark).isEmpty()


def test_curation_funnel_release_spans_modules(spark, sf_dir):
    """The funnel composes dedup operators: full cleanup takes both
    modules' trackers (or release_all)."""
    from dirt_hadoop_similarity_spark.operators import curation, dedup

    _drain(spark)
    cm = _cache_manager(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    curation.funnel_summary(docs).count()
    assert not cm.isEmpty()
    assert curation.release_caches() == 2  # annotate's scored + ann
    assert dedup.release_caches() == 1  # the near-dup signature cache
    assert cm.isEmpty()


def test_release_all_drains_every_module(spark, sf_dir):
    from dirt_hadoop_similarity_spark.operators import (
        _tracked_cache,
        curation,
        sampling,
    )

    _drain(spark)
    cm = _cache_manager(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(120)
    curation.funnel_summary(docs).count()
    sampling.dsir_weights(docs, F.col("lang") == "en").count()
    assert not cm.isEmpty()
    assert _tracked_cache.release_all() == 5  # 2 curation + 1 dedup + 2 dsir
    assert cm.isEmpty()
    assert _tracked_cache.release_all() == 0  # idempotent
