"""Incremental-dedup invariants: batch-vs-index results must agree with
what a full-corpus run would have reported for the same cross pairs, and
the corpus side must not shuffle (broadcast probe)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators import dedup

SPLIT = 400


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_matches_full_run_on_cross_pairs(docs):
    """Every (corpus, batch) pair the full symmetric run finds must come
    out of the incremental probe with the same est_jaccard, and vice
    versa (the batch ids are all > corpus ids here, so cross pairs are
    exactly the full run's pairs straddling the split)."""
    full = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_near_duplicates(docs).collect()
        if r["id_a"] < SPLIT <= r["id_b"]
    }
    sigs = dedup.signature_index(docs.filter(F.col("doc_id") < SPLIT))
    incr = {
        (r["corpus_id"], r["batch_id"]): r["est_jaccard"]
        for r in dedup.incremental_near_duplicates(
            sigs, docs.filter(F.col("doc_id") >= SPLIT)
        ).collect()
    }
    assert incr == full
    assert len(incr) > 0


def test_corpus_side_not_shuffled(docs):
    """The plan must broadcast the batch bands: no Exchange between the
    corpus signature scan and the band join."""
    sigs = dedup.signature_index(docs.filter(F.col("doc_id") < SPLIT))
    result = dedup.incremental_near_duplicates(
        sigs, docs.filter(F.col("doc_id") >= SPLIT)
    )
    plan = result._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_signature_index_schema(docs):
    sigs = dedup.signature_index(docs, num_hashes=8)
    assert sigs.columns == ["doc_id"] + [f"h{k}" for k in range(8)]
