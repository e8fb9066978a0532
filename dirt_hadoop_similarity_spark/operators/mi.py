"""MI layer: pointwise mutual information per (path, slot, word).

    mi = ln( f(p,s,w) · N / ( f(p,s) · f(s,w) ) )        kept when mi > 0.001

Reference: Job 2 (DirtDriver.java:598-708).  Its two hand-built joins —
a DistributedCache hash probe against word margins and a secondary-sorted
reduce-side merge against path margins — are plain equi-joins here:

  * word margins are small (distinct stemmed nouns × 2 slots) → broadcast
    hash join, the exact analogue of the reference's in-RAM HashMap but
    spill-safe and managed by the engine (DirtDriver.java:601-641);
  * path margins join on (path, slot) → Catalyst picks broadcast or
    sort-merge by size; the reference's 120 lines of PathSlotKey secondary
    -sort machinery (DirtDriver.java:50-104) disappear entirely.

Inner-join semantics reproduce the reference's drop-on-missing-margin
guards (DirtDriver.java:637-641,678-681).  ``Math.log`` is natural log →
``F.log`` (not log10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MI_THRESHOLD = 0.001  # strict > , DirtDriver.java:699


def mi_table(
    triples_df: DataFrame,
    word_margins_df: DataFrame,
    path_margins_df: DataFrame,
    n_total: int,
) -> DataFrame:
    """J1+J2+F6+P6 → ``(path, slot, word, mi)`` with mi > MI_THRESHOLD;
    N is ``max(n_total, 1)`` (DirtDriver.java:1127-1160)."""
    sw = F.broadcast(word_margins_df.withColumnRenamed("n", "sw_n"))
    ps = path_margins_df.withColumnRenamed("n", "ps_n")
    joined = triples_df.join(sw, ["slot", "word"], "inner").join(
        ps, ["path", "slot"], "inner"
    )
    numerator = F.col("n").cast("double") * F.lit(float(max(n_total, 1)))
    denominator = F.col("ps_n").cast("double") * F.col("sw_n").cast("double")
    mi = F.log(numerator / denominator)
    return (
        joined.filter((numerator > 0) & (denominator > 0))
        .select("path", "slot", "word", mi.alias("mi"))
        .filter(F.col("mi") > MI_THRESHOLD)
    )


def sum_mi(mi_df: DataFrame) -> DataFrame:
    """A4 (Job 2.5): Σ_w mi per (path, slot) → ``(path, slot, sum_mi)``."""
    return mi_df.groupBy("path", "slot").agg(F.sum("mi").alias("sum_mi"))


def sum_mi_pivoted(sum_mi_df: DataFrame) -> DataFrame:
    """J5 prep: one row per path with the X/Y denominators side by side:
    ``(path, sum_mi_x, sum_mi_y)``; missing slot → 0.0 (the reference's
    getOrDefault(…, 0.0), DirtDriver.java:967-970)."""
    return (
        sum_mi_df.groupBy("path")
        .pivot("slot", ["X", "Y"])
        .agg(F.first("sum_mi"))
        .select(
            "path",
            F.coalesce("X", F.lit(0.0)).alias("sum_mi_x"),
            F.coalesce("Y", F.lit(0.0)).alias("sum_mi_y"),
        )
    )
