"""Overlap + final Lin similarity: Jobs 3 and 4 as one per-path lookup.

    sim_slot(p1, p2) = Σ_{f ∈ V1∩V2} (mi1(f) + mi2(f)) / (ΣMI(p1,slot) + ΣMI(p2,slot))
    score(p1, p2)    = sqrt(sim_X · sim_Y)

Reference semantics preserved exactly (DirtDriver.java:736-978):

  * pair universe comes from the test set, canonicalized p1 <= p2
    (DirtDriver.java:861-862); a pair with a null side is dropped;
  * a pair is EMITTED (even with score 0.0) iff at least one member path
    has MI features — that is what creates a Job-3 reduce group; pairs
    where neither path survived MI are absent from the output, and pairs
    with no overlap appear with 0.0 (visible in the shipped goldens);
  * degenerate p1 == p2 pairs score 0.0: the reference routes all rows
    into v1 and leaves v2 empty (DirtDriver.java:890-893);
  * zero denominators guard to 0.0 (DirtDriver.java:972-973).

Spark shape: each path is scored from ONE row, not from copies of its MI
rows.  MI is semi-joined to the test set's member paths (each kept row
once) and aggregated per path into its X and Y feature vectors — ``word →
mi`` maps built from entries sorted by word — beside its ΣMI
denominators.  Each canonical pair looks that row up once per side (a
broadcast of the per-path relation, reused for both sides), and the
intersection sums are native higher-order functions over the two maps
(``map_zip_with`` + ``aggregate``), linear in the two vectors.  The
numerator sums in word order within a slot, whatever the partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators.mi import sum_mi_pivoted


def canonical_pairs(pairs_df: DataFrame) -> DataFrame:
    """P9: canonicalize and dedupe to ``(p1, p2)`` with p1 <= p2.

    Duplicate test-set pairs collapse — the reference's HashMap ``v1.put``
    overwrite makes duplicates a no-op there too.  The null filter runs on
    the raw sides: ``least``/``greatest`` skip nulls, so ``(a, null)``
    would otherwise become the fabricated self-pair ``(a, a)``."""
    return (
        pairs_df.filter(F.col("p1").isNotNull() & F.col("p2").isNotNull())
        .select(F.least("p1", "p2").alias("p1"), F.greatest("p1", "p2").alias("p2"))
        .distinct()
    )


def pair_members(pairs_df: DataFrame) -> DataFrame:
    """Explode pairs to ``(p1, p2, path)`` membership rows (one per side;
    a self-pair contributes a single row)."""
    return pairs_df.select(
        "p1", "p2", F.explode(F.array_distinct(F.array("p1", "p2"))).alias("path")
    )


def _features(slot: str):
    """One slot of a path's vector: ``word → mi`` built from entries sorted
    by word (an empty map when the path has no feature in the slot)."""
    entry = F.when(F.col("slot") == slot, F.struct("word", "mi"))
    return F.map_from_entries(F.array_sort(F.collect_list(entry)))


def _intersection_sum(m1: str, m2: str):
    """Σ (mi1 + mi2) over the words both maps hold, in ``m1``'s key order;
    0.0 when either side has no vector."""
    both = F.map_zip_with(m1, m2, lambda _, a, b: a + b)
    total = F.aggregate(
        F.map_values(both), F.lit(0.0), lambda acc, v: acc + F.coalesce(v, F.lit(0.0))
    )
    return F.coalesce(total, F.lit(0.0))


def similarities(
    mi_df: DataFrame,
    pairs_df: DataFrame,
    sum_mi_df: DataFrame,
) -> DataFrame:
    """J3+J4+A5+A6+J5+F7+F8 → ``sims(p1, p2, score)``.

    ``pairs_df``: raw (p1, p2) path pairs (any orientation, with dupes);
    ``sum_mi_df``: output of :func:`mi.sum_mi`.
    """
    pairs = canonical_pairs(pairs_df)
    paths = F.broadcast(pair_members(pairs).select("path"))

    # J3/A5: one row per member path with features.  Both sides of the
    # denominator join are clustered by path, so the shuffle-hash hint
    # joins them in place instead of broadcasting ΣMI in a job of its own.
    vectors = (
        mi_df.join(paths, "path", "left_semi")
        .groupBy("path")
        .agg(_features("X").alias("fx"), _features("Y").alias("fy"))
        .join(sum_mi_pivoted(sum_mi_df).hint("shuffle_hash"), "path", "left")
    )

    # J4/J5: each pair looks its two paths up in the broadcast per-path
    # relation; a pair is emitted iff either path has a row.
    def side(i: int) -> DataFrame:
        return F.broadcast(
            vectors.select(
                F.col("path").alias(f"p{i}"),
                F.col("fx").alias(f"fx{i}"),
                F.col("fy").alias(f"fy{i}"),
                F.col("sum_mi_x").alias(f"s{i}x"),
                F.col("sum_mi_y").alias(f"s{i}y"),
            )
        )

    scored = (
        pairs.join(side(1), "p1", "left")
        .join(side(2), "p2", "left")
        .filter(F.col("fx1").isNotNull() | F.col("fx2").isNotNull())
    )

    def sim(slot: str):
        den = F.coalesce(F.col(f"s1{slot}"), F.lit(0.0)) + F.coalesce(
            F.col(f"s2{slot}"), F.lit(0.0)
        )
        num = _intersection_sum(f"f{slot}1", f"f{slot}2")
        return F.when(den > 0, num / den).otherwise(0.0)

    score = F.when(
        F.col("p1") != F.col("p2"), F.sqrt(sim("x") * sim("y"))
    ).otherwise(0.0)
    return scored.select("p1", "p2", score.alias("score"))
