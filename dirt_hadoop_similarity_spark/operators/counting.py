"""Counting layer: the weighted multi-granularity aggregates of Job 1.

The reference fans one mapper emission into four tagged count streams and
demultiplexes them into four output directories
(DirtDriver.java:511-517,581-588).  In Spark each marginal is its own
``groupBy().sum()`` off a shared fact table — Catalyst's partial
HashAggregate before the shuffle IS the reference's hand-written combiner
(DirtDriver.java:555-564), for free.

Scale note: ``facts`` should be cached (or checkpointed to Parquet) by the
caller when several marginals are derived from it — Spark will not share
one scan across actions.  All aggregates here are ``sum`` over weighted
rows, so partial aggregation keeps shuffle volume proportional to the
number of DISTINCT keys, not corpus mass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triples(facts: DataFrame) -> DataFrame:
    """A1: f(p,s,w) — the fact table ``(path, slot, word, n)``."""
    return facts.groupBy("path", "slot", "word").agg(F.sum("n").alias("n"))


def word_margins(triples_df: DataFrame) -> DataFrame:
    """A3: f(s,w) — ``(slot, word, n)``; small (distinct stemmed nouns ×2)."""
    return triples_df.groupBy("slot", "word").agg(F.sum("n").alias("n"))


def path_margins(triples_df: DataFrame) -> DataFrame:
    """A3: f(p,s) — ``(path, slot, n)``."""
    return triples_df.groupBy("path", "slot").agg(F.sum("n").alias("n"))


def global_n(triples_df: DataFrame) -> int:
    """A2/S6: the scalar N = total triple mass, 0 when no triple survived
    (DirtDriver.java:1127-1160 sums the GLOBAL stream; each extraction
    emits 2 triples of weight n, so summing the fact table is identical).
    The reference's floor at 1 is applied where N is used, in
    ``mi.mi_table``, so callers can still tell an empty input.

    The one intentional driver-side collect in the pipeline — one row.
    """
    row = triples_df.agg(F.sum("n").alias("total")).first()
    return int(row["total"] or 0)
