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

Sizing and cache:
  * The job makes one sizing decision, in main (_job_session): it runs on
    a job-owned session (``newSession()``: same SparkContext and cache,
    its own SQL conf) whose shuffle partitions and AQE setting come from
    --shuffle-partitions or from the corpus size.  The caller's session
    conf is left as it was, and an existing session is used as it is.
  * Every relation the job caches (triples, MI, similarities) is
    released when main returns or raises.

A corpus or test-set file that does not exist is reported in one line on
stderr with exit status 2, before Spark starts or --out is created.  A
corpus from which no triple survives (empty, or every line malformed) and a
test set whose files compile to zero pairs each run to the end, with a
one-line warning on stderr and in report.md.

A run removes the evaluation outputs of an earlier run in --out
(similarities.tsv, pr_curve.csv, metrics.json, report.md) before it writes,
so a run without --testset leaves none of them behind.

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
import glob
import json
import os
import shutil
import sys

from pyspark.sql import functions as F


_PROG = "python -m dirt_hadoop_similarity_spark"
_PARTITIONS = "spark.sql.shuffle.partitions"
_AQE = "spark.sql.adaptive.enabled"
# written only with --testset; removed at the start of every run
_EVAL_OUTPUTS = ("similarities.tsv", "pr_curve.csv", "metrics.json", "report.md")


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog=_PROG,
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
        "--shuffle-partitions",
        type=int,
        default=None,
        help="the job's static shuffle-partition count (AQE off); by "
        "default derived from the corpus size",
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


def _missing_input(args) -> str | None:
    """The first input that names nothing on the local file system, as a
    one-line message.  A corpus URI (``scheme://``) or Hadoop brace glob
    is left for Spark to resolve."""
    corpus = args.corpus
    local = "://" not in corpus and "{" not in corpus
    if local and not (os.path.exists(corpus) or glob.glob(corpus)):
        return f"corpus not found: {corpus}"
    for path in args.testset or ():
        if not os.path.isfile(path):
            return f"testset file not found: {path}"
    return None


def _job_session(spark, corpus: str, shuffle_partitions: int | None):
    """The job's one sizing decision, on a session of its own; returns the
    job session and the corpus's text lines, read once on it.

    ``newSession()`` shares the SparkContext and the cache but has its own
    SQL conf, so every plan of the job runs under the decision and nothing
    is set on the caller's session.  An explicit ``--shuffle-partitions``
    is the static partition count; otherwise ``scale.static_partitions``
    derives one from that scan's byte estimate, against the caller's
    partition count (a new session does not inherit runtime conf).  Static
    means AQE off: on a small corpus each AQE stage and broadcast job is
    fixed cost.  At cluster-scale input no count is derived and the job
    runs with the caller's partitions and AQE setting."""
    from dirt_hadoop_similarity_spark.operators.scale import static_partitions

    job = spark.newSession()
    lines = job.read.text(corpus)
    parts = shuffle_partitions or static_partitions(spark, lines)
    if parts is None:
        for key in (_PARTITIONS, _AQE):
            job.conf.set(key, spark.conf.get(key))
    else:
        job.conf.set(_PARTITIONS, str(parts))
        job.conf.set(_AQE, "false")
    return job, lines


def main(argv=None) -> int:
    parser = _build_parser()
    args = parser.parse_args(argv)
    missing = _missing_input(args)
    if missing:
        print(f"{parser.prog}: {missing}", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    from dirt_hadoop_similarity_spark.session import get_spark

    # an existing session is used as it is (get_spark would reapply its
    # builder options to it); only a process without one builds it
    spark = SparkSession.getActiveSession() or get_spark(
        app_name="dirt-cli", master=args.master
    )
    job, lines = _job_session(spark, args.corpus, args.shuffle_partitions)
    cached: list = []
    try:
        summary = _run(job, lines, args, cached)
    finally:
        # the cache is shared with the caller's session and matches a
        # text scan by path: left cached, these rows would answer a later
        # run over a rewritten corpus
        for df in cached:
            df.unpersist()
    print(json.dumps(summary))
    return 0


def _remove_eval_outputs(out: str) -> None:
    for name in _EVAL_OUTPUTS:
        path = os.path.join(out, name)
        if os.path.isdir(path) and not os.path.islink(path):
            shutil.rmtree(path)
        elif os.path.lexists(path):
            os.remove(path)


def _warn(warnings: list, message: str) -> None:
    print(f"{_PROG}: {message}", file=sys.stderr)
    warnings.append(message)


def _run(spark, lines, args, cached: list) -> dict:
    """The job body on the job session, over the corpus's text ``lines``;
    appends every relation it caches to ``cached`` and returns the stdout
    summary."""
    from dirt_hadoop_similarity_spark.functions.phrases import testset_pairs_df
    from dirt_hadoop_similarity_spark.plans import evaluate as ev
    from dirt_hadoop_similarity_spark.plans.pipeline import run_pipeline
    from dirt_hadoop_similarity_spark.sources.sinks import write_tsv

    os.makedirs(args.out, exist_ok=True)
    _remove_eval_outputs(args.out)

    pairs = None
    if args.testset:
        pos, neg = args.testset
        pairs = testset_pairs_df(spark, pos, neg, dialect=args.dialect)

    res = run_pipeline(spark, lines, pairs_df=pairs)
    cached += [res.triples, res.mi]
    warnings: list = []
    if res.n_total <= 0:
        _warn(warnings, f"warning: corpus {args.corpus} yielded 0 triples "
              "(it is empty, or no line is a biarc with a path between two nouns)")

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
        cached.append(sims)
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
        if report["n_gold"] == 0:
            _warn(warnings, f"warning: --testset {pos} {neg} compiled to 0 pairs "
                  f"(no line has both phrases in the {args.dialect} grammar)")

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
            for warning in warnings:
                f.write(f"**{warning}**\n\n")
            for cls, title in (
                ("tp", "True positives"),
                ("fp", "False positives"),
                ("tn", "True negatives"),
                ("fn", "False negatives"),
            ):
                f.write(f"## {title}\n\n{_fmt_pairs(samples[cls])}\n\n")

        summary.update(metrics)
        summary["pairs_found"] = pairs_found

    return summary


if __name__ == "__main__":
    sys.exit(main())
