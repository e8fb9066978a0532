"""End-to-end CLI: the Spark rendering of the reference's two entry
points as ONE command.

    python -m dirt_hadoop_similarity_spark CORPUS [--testset POS NEG]
           [--out DIR] [--dialect java|eval] [--master M] [--top-k K] [--plot]

Reference parity:
  * DirtDriver.run() (DirtDriver.java:981-1092) chains Jobs 1-4 with S3
    text between stages; here the whole thing is one lazy DataFrame DAG
    (plans/pipeline.run_pipeline) and the only materializations are the
    global-N scalar and the requested output files.
  * analysis/evaluate_dirt.py main() (evaluate_dirt.py:226-264) loads the
    Job-4 part files, searches the optimal-F1 threshold, prints error
    analysis, and plots the PR curve; here the same numbers come from
    plans/evaluate.evaluate, one driver-side pass over the in-flight
    test-pair scores, and the curve is exported as CSV points (--plot adds
    the PNG when matplotlib is installed).  report.md lists the first
    --top-k pairs of each outcome class.

Outputs under --out (created if needed):
    similarities.tsv/   p1 \t p2 \t score   (Job-4 final output, F5 export)
    mi.tsv/             path \t slot \t word \t mi     (Job-2 output)
    sum_mi.tsv/         path \t slot \t sum_mi         (Job-2.5 output)
    metrics.json        optimal-threshold metrics + counts (one JSON obj)
    pr_curve.csv/       per-prefix threshold/precision/recall/f1 points
    report.md           AnalysisReport.md:18-24-style table + error samples
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m dirt_hadoop_similarity_spark",
        description="DIRT pipeline: biarc corpus -> path similarities "
        "(+ optional evaluation against a labeled test set)",
    )
    p.add_argument("corpus", help="path/glob of biarc text files")
    p.add_argument(
        "--testset",
        nargs=2,
        metavar=("POS", "NEG"),
        help="positive / negative phrase-pair TSV files; enables scoring "
        "+ evaluation (DirtDriver Job 3's cache files)",
    )
    p.add_argument("--out", default="dirt_out", help="output directory")
    p.add_argument(
        "--dialect",
        choices=("java", "eval"),
        default="java",
        help="phrase->path compilation dialect (java = pipeline grammar, "
        "eval = analysis/evaluate_dirt.py's variant)",
    )
    p.add_argument("--master", default=None, help="Spark master override")
    p.add_argument(
        "--shuffle-partitions", type=int, default=None, help="shuffle partitions"
    )
    p.add_argument(
        "--top-k", type=int, default=5, help="error-analysis samples per class"
    )
    p.add_argument(
        "--plot",
        action="store_true",
        help="also render precision_recall_curve.png (requires matplotlib; "
        "without it the CSV points are still written and a note is printed)",
    )
    return p


def _plot_pr_curve(scan_rows, path: str) -> bool:
    """Reference parity for analysis/evaluate_dirt.py:251-262's
    precision_recall_curve.png; matplotlib is optional in this
    environment, so the hook degrades to the CSV points."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError:
        print(
            "matplotlib not installed; skipping PNG "
            "(pr_curve.csv has the same points)",
            file=sys.stderr,
        )
        return False
    rec = [r["recall"] for r in scan_rows]
    prec = [r["precision"] for r in scan_rows]
    fig, ax = plt.subplots(figsize=(8, 6))
    ax.plot(rec, prec, marker=".", linewidth=1)
    ax.set_xlabel("Recall")
    ax.set_ylabel("Precision")
    ax.set_title("Precision-Recall curve")
    ax.set_ylim(0.0, 1.05)
    ax.grid(True, alpha=0.3)
    fig.savefig(path, dpi=100, bbox_inches="tight")
    plt.close(fig)
    return True


def _fmt_pairs(rows) -> str:
    return (
        "\n".join(f"  {r.score:.4f}  {r.p1}  <->  {r.p2}" for r in rows)
        or "  (none)"
    )


def main(argv=None) -> int:
    args = _build_parser().parse_args(argv)

    from dirt_hadoop_similarity_spark.functions.phrases import testset_pairs_df
    from dirt_hadoop_similarity_spark.plans import evaluate as ev
    from dirt_hadoop_similarity_spark.plans.pipeline import run_pipeline
    from dirt_hadoop_similarity_spark.session import get_spark
    from dirt_hadoop_similarity_spark.sources.sinks import write_tsv

    spark = get_spark(
        app_name="dirt-cli",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    os.makedirs(args.out, exist_ok=True)

    pairs = None
    if args.testset:
        pos, neg = args.testset
        pairs = testset_pairs_df(spark, pos, neg, dialect=args.dialect)

    res = run_pipeline(spark, args.corpus, pairs_df=pairs)

    # Job-2 / Job-2.5 artifacts (rounded like the registry queries so the
    # files are engine-stable)
    write_tsv(
        res.mi.select("path", "slot", "word", F.round("mi", 6).alias("mi")),
        os.path.join(args.out, "mi.tsv"),
    )
    write_tsv(
        res.sum_mi.select(
            "path", "slot", F.round("sum_mi", 6).alias("sum_mi")
        ),
        os.path.join(args.out, "sum_mi.tsv"),
    )

    summary: dict = {"global_n": res.n_total, "out": args.out}

    if pairs is not None:
        sims = res.sims.cache()
        write_tsv(
            sims.orderBy(F.desc("score"), "p1", "p2"),
            os.path.join(args.out, "similarities.tsv"),
            coalesce=1,
        )
        # P10: the evaluator only ever sees score > 0 rows
        scored = sims.filter(F.col("score") > 0)
        gold = pairs.select("p1", "p2", "label")
        report = ev.evaluate(scored, gold)
        metrics = report["metrics"]
        pairs_found = report["n_scored"]

        (
            report["scan"]
            .select(
                "p1", "p2",
                F.round("score", 6).alias("score"),
                "label", "tp", "fp",
                F.round("precision", 6).alias("precision"),
                F.round("recall", 6).alias("recall"),
                F.round("f1", 6).alias("f1"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .option("header", True)
            .csv(os.path.join(args.out, "pr_curve.csv"))
        )

        # the scan is already in descending-score order
        if args.plot and _plot_pr_curve(
            report["scan"].collect(),
            os.path.join(args.out, "precision_recall_curve.png"),
        ):
            summary["pr_curve_png"] = True

        samples = {
            k: df.collect()[: args.top_k] for k, df in report["samples"].items()
        }
        with open(os.path.join(args.out, "metrics.json"), "w") as f:
            json.dump({**metrics, "pairs_found": pairs_found}, f, indent=2)

        # AnalysisReport.md:18-24-shaped table + evaluate_dirt.py's
        # print_error_analysis sections
        with open(os.path.join(args.out, "report.md"), "w") as f:
            f.write(
                "# DIRT run report\n\n"
                "| Metric | Value |\n| :--- | :--- |\n"
                f"| **Pairs Found** | {pairs_found} |\n"
                f"| **Optimal Threshold** | {metrics['threshold']:.6f} |\n"
                f"| **Precision** | {metrics['precision']:.4f} |\n"
                f"| **Recall** | {metrics['recall']:.4f} |\n"
                f"| **F1 Score** | {metrics['f1']:.4f} |\n\n"
            )
            for cls, title in (
                ("tp", "True positives"),
                ("fp", "False positives"),
                ("tn", "True negatives"),
                ("fn", "False negatives"),
            ):
                f.write(f"## {title}\n\n{_fmt_pairs(samples[cls])}\n\n")

        summary.update(metrics)
        summary["pairs_found"] = pairs_found

    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
