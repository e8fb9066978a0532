"""Evaluation harness: optimal-F1 threshold search, PR curve, error
sampling — the Spark rendering of analysis/evaluate_dirt.py.

The evaluation itself is the reference's single-process pass
(evaluate_dirt.py:103-199), run on the driver: both inputs are bounded by
the test set (the CLI scores only test pairs, and the gold set is compiled
in the driver), so a distributed plan would only add per-job overhead.
The scan and the error samples are handed back as small DataFrames for
the CSV writer and callers that expect relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SCAN_SCHEMA = (
    "p1 string, p2 string, score double, label int, tp bigint, fp bigint, "
    "precision double, recall double, f1 double"
)
SAMPLE_SCHEMA = "p1 string, p2 string, score double, label int"


def load_system_output(spark: SparkSession, path: str) -> DataFrame:
    """S7: read `p1 \\t p2 \\t score` part files; keep score > 0;
    canonicalize and keep the max score per pair."""
    df = spark.read.csv(
        path, sep="\t", schema="p1 STRING, p2 STRING, score DOUBLE"
    )
    return (
        # score > 0 drops unparseable scores (NULL fails the predicate);
        # the explicit pair guard matters because least/greatest SKIP
        # null arguments — a malformed line with a missing field would
        # otherwise canonicalize to a FABRICATED self-pair (x, x)
        # instead of being dropped
        df.filter(
            (F.col("score") > 0)
            & F.col("p1").isNotNull()
            & F.col("p2").isNotNull()
        )
        .select(
            F.least("p1", "p2").alias("p1"),
            F.greatest("p1", "p2").alias("p2"),
            "score",
        )
        .groupBy("p1", "p2")
        .agg(F.max("score").alias("score"))
    )


def evaluate(scored: DataFrame, gold_pairs: DataFrame) -> dict:
    """A8/A9/O4/J6: optimal-F1 metrics, the PR scan and the error samples.

    Gold pairs are canonicalized; a pair in both files keeps label 1.
    The scan is the labeled pairs (scored ⋈ gold) in (score desc, p1, p2)
    order with cumulative tp/fp, precision, recall and F1 per prefix
    (threshold = row's score).  The optimal row has the highest F1, ties
    to the highest score (the evaluator's strictly-greater update).
    Samples hold every row of each outcome class in scan order; FN adds
    the gold positives absent from ``scored`` with score 0.0.

    A pair occurring more than once in ``scored`` is counted per
    occurrence, as in the reference's find_optimal_threshold
    (analysis/evaluate_dirt.py:226-250); load_system_output first dedups
    to the max score per pair (A7), and Job 4 partitions by pair so the
    CLI's scores hold no duplicates."""
    spark = scored.sparkSession
    gold: dict[tuple[str, str], int] = {}
    for p1, p2, label in gold_pairs.select("p1", "p2", "label").collect():
        key = (min(p1, p2), max(p1, p2))
        gold[key] = max(gold.get(key, label), label)
    rows = scored.select("p1", "p2", "score").collect()
    total_pos = sum(1 for label in gold.values() if label == 1)

    scan = []
    tp = fp = 0
    for neg_score, p1, p2, label in sorted(
        (-score, p1, p2, gold[(p1, p2)])
        for p1, p2, score in rows
        if (p1, p2) in gold
    ):
        tp += label
        fp += 1 - label
        prec = tp / (tp + fp)
        rec = tp / float(max(total_pos, 1))
        f1 = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
        scan.append((p1, p2, -neg_score, label, tp, fp, prec, rec, f1))

    if scan:
        _, _, score, _, _, _, prec, rec, f1 = min(
            scan, key=lambda r: (-r[8], -r[2], r[0], r[1])
        )
        metrics = {"threshold": score, "precision": prec, "recall": rec, "f1": f1}
    else:
        metrics = {"threshold": 0.0, "precision": 0.0, "recall": 0.0, "f1": 0.0}

    classes: dict[str, list] = {"tp": [], "fp": [], "tn": [], "fn": []}
    for p1, p2, score, label, *_ in scan:
        if score >= metrics["threshold"]:
            classes["tp" if label else "fp"].append((p1, p2, score, label))
        else:
            classes["fn" if label else "tn"].append((p1, p2, score, label))
    seen = {(p1, p2) for p1, p2, _ in rows}
    classes["fn"] += [
        (p1, p2, 0.0, 1)
        for (p1, p2), label in gold.items()
        if label == 1 and (p1, p2) not in seen
    ]
    classes["fn"].sort(key=lambda r: (-r[2], r[0], r[1]))

    return {
        "metrics": metrics,
        "n_scored": len(rows),
        "scan": spark.createDataFrame(scan, SCAN_SCHEMA),
        "samples": {
            k: spark.createDataFrame(v, SAMPLE_SCHEMA) for k, v in classes.items()
        },
    }
