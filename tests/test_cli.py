"""End-to-end CLI test: corpus + testset files in, artifacts out.

Uses the hand-computed mini corpus from test_pipeline, so the expected
metrics are exact: the only score>0 pair is (chase, pursue) which is the
gold positive → optimal threshold gives P = R = F1 = 1.0.
"""

import contextlib
import glob
import json

import pytest

from dirt_hadoop_similarity_spark.__main__ import main as cli_main

CORPUS = [
    "chase\tdogs/NNS/nsubj/2 chase/VBP/ROOT/0 cats/NNS/dobj/2\t3\t1999,3",
    "pursue\tdogs/NNS/nsubj/2 pursue/VBP/ROOT/0 cats/NNS/dobj/2\t2",
    "chase\tfoxes/NNS/nsubj/2 chase/VBP/ROOT/0 birds/NNS/dobj/2\t1",
    "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 infections/NNS/pobj/3\t2",
]


def test_cli_end_to_end(spark, tmp_path, capsys):
    corpus = tmp_path / "corpus.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    pos = tmp_path / "positive-preds.txt"
    pos.write_text("X chase Y\tX pursue Y\n")
    neg = tmp_path / "negative-preds.txt"
    neg.write_text("X chase Y\tX die from Y\n")
    out = tmp_path / "out"

    rc = cli_main(
        [str(corpus), "--testset", str(pos), str(neg), "--out", str(out)]
    )
    assert rc == 0

    metrics = json.loads((out / "metrics.json").read_text())
    assert metrics["pairs_found"] == 1
    assert metrics["precision"] == 1.0
    assert metrics["recall"] == 1.0
    assert metrics["f1"] == 1.0
    assert metrics["threshold"] > 0

    # stdout: one JSON summary line (last line)
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["global_n"] == 16
    assert summary["pairs_found"] == 1

    # similarities.tsv: both testset pairs emitted (chase has MI features),
    # the no-overlap pair with 0.0
    sim_lines = []
    for part in glob.glob(str(out / "similarities.tsv" / "part-*")):
        with open(part) as f:
            sim_lines += [l.split("\t") for l in f.read().splitlines()]
    assert len(sim_lines) == 2
    scores = sorted(float(l[2]) for l in sim_lines)
    assert scores[0] == 0.0 and scores[1] > 0

    # pr_curve.csv: header + one labeled score>0 row
    curve_parts = glob.glob(str(out / "pr_curve.csv" / "part-*"))
    assert curve_parts
    header, *rows = open(curve_parts[0]).read().splitlines()
    assert header.split(",")[:4] == ["p1", "p2", "score", "label"]
    assert len(rows) == 1

    report = (out / "report.md").read_text()
    # pin the table against AnalysisReport.md:18-24's exact row set and
    # style: ':---'-aligned Metric/Value header, bolded metric names,
    # the reference's five rows in the reference's order
    assert "| Metric | Value |\n| :--- | :--- |" in report
    metric_rows = [
        l for l in report.splitlines() if l.startswith("| **")
    ]
    assert [r.split("|")[1].strip() for r in metric_rows] == [
        "**Pairs Found**",
        "**Optimal Threshold**",
        "**Precision**",
        "**Recall**",
        "**F1 Score**",
    ]
    assert "| **Pairs Found** | 1 |" in report
    assert "| **Precision** | 1.0000 |" in report
    # evaluate_dirt.py's print_error_analysis sections, all four classes
    for section in ("## True positives", "## False positives",
                    "## True negatives", "## False negatives"):
        assert section in report

    # mi/sum_mi Job-2/2.5 artifacts exist and are non-empty
    assert glob.glob(str(out / "mi.tsv" / "part-*"))
    assert glob.glob(str(out / "sum_mi.tsv" / "part-*"))


def test_cli_no_testset(spark, tmp_path, capsys):
    corpus = tmp_path / "corpus.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    out = tmp_path / "out2"
    rc = cli_main([str(corpus), "--out", str(out)])
    assert rc == 0
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["global_n"] == 16
    assert "pairs_found" not in summary
    assert glob.glob(str(out / "mi.tsv" / "part-*"))
    assert not (out / "similarities.tsv").exists()


def test_cli_plot_flag_degrades_without_matplotlib(spark, tmp_path, capsys):
    corpus = tmp_path / "corpus3.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    pos = tmp_path / "p3.txt"
    pos.write_text("X chase Y\tX pursue Y\n")
    neg = tmp_path / "n3.txt"
    neg.write_text("X chase Y\tX die from Y\n")
    out = tmp_path / "out3"
    rc = cli_main(
        [str(corpus), "--testset", str(pos), str(neg), "--out", str(out),
         "--plot"]
    )
    assert rc == 0
    try:
        import matplotlib  # noqa: F401
        assert (out / "precision_recall_curve.png").exists()
    except ImportError:
        # hook must degrade: CSV points still written, no crash
        assert not (out / "precision_recall_curve.png").exists()
        assert glob.glob(str(out / "pr_curve.csv" / "part-*"))


def test_cli_top_k_limits_error_samples(spark, tmp_path):
    corpus = tmp_path / "corpus4.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    # two gold positives whose paths never occur in the corpus: both are
    # unscored false negatives
    pos = tmp_path / "p4.txt"
    pos.write_text(
        "X chase Y\tX pursue Y\nX eat Y\tX devour Y\nX build Y\tX make Y\n"
    )
    neg = tmp_path / "n4.txt"
    neg.write_text("X chase Y\tX die from Y\n")
    out = tmp_path / "out4"
    rc = cli_main(
        [str(corpus), "--testset", str(pos), str(neg), "--out", str(out),
         "--top-k", "1"]
    )
    assert rc == 0
    metrics = json.loads((out / "metrics.json").read_text())
    assert metrics["recall"] == pytest.approx(1 / 3)
    report = (out / "report.md").read_text()
    fn = report.split("## False negatives\n\n")[1].split("\n\n")[0]
    assert len(fn.splitlines()) == 1 and "<->" in fn, report


def test_curate_cli_end_to_end(spark, sf_dir, tmp_path):
    from dirt_hadoop_similarity_spark.curate import main as curate_main

    out = tmp_path / "curated"
    rc = curate_main([
        sf_dir, "--out", str(out),
        "--mixture", "en=5,es=2,de=2", "--shards", "4",
        "--pack", "256",
    ])
    assert rc == 0

    summary = json.loads((out / "summary.json").read_text())
    assert summary["after_model_filter"] < summary["input_rows"]
    assert summary["after_funnel"] <= summary["after_model_filter"]
    assert summary["final_rows"] > 0
    assert set(summary["composition"]) <= {"en", "es", "de"}
    assert sum(summary["composition"].values()) == summary["final_rows"]

    back = spark.read.parquet(str(out / "shards"))
    assert back.count() == summary["final_rows"]
    assert set(r["shard"] for r in back.select("shard").distinct().collect()) \
        <= set(range(4))
    # redaction + epoch identity survived the writer
    assert back.filter("sample_id IS NULL").count() == 0

    packing = spark.read.parquet(str(out / "packing"))
    assert packing.count() == summary["final_rows"]
    assert summary["packed_bins"] >= 1
    # offsets are unique sample positions; bins are dense from 0
    assert packing.select("sample_id").distinct().count() == packing.count()
    assert packing.agg({"bin_id": "min"}).first()[0] == 0


def test_curate_cli_defaults_no_mixture(spark, sf_dir, tmp_path):
    """The no-mixture branch: every kept doc appears exactly once at
    epoch 1, and bad --langs fails fast."""
    import pytest as _pytest

    from dirt_hadoop_similarity_spark.curate import main as curate_main

    out = tmp_path / "plain"
    rc = curate_main([sf_dir, "--out", str(out), "--shards", "2"])
    assert rc == 0
    summary = json.loads((out / "summary.json").read_text())
    assert summary["final_rows"] == summary["after_funnel"]
    back = spark.read.parquet(str(out / "shards"))
    assert back.filter("epoch <> 1").count() == 0
    assert back.select("doc_id").distinct().count() == back.count()

    with _pytest.raises(SystemExit):
        curate_main([sf_dir, "--out", str(out), "--langs", " , "])


def test_curate_cli_lm_dsir_and_chunks(spark, sf_dir, tmp_path):
    """The optional LM / DSIR filter stages tighten the funnel input
    monotonically, and --chunk emits a readable chunk table keyed by
    the post-mixture sample identity."""
    from dirt_hadoop_similarity_spark.curate import main as curate_main

    out = tmp_path / "curated_lm"
    rc = curate_main([
        sf_dir, "--out", str(out), "--shards", "2",
        "--lm-threshold", "-3420000",
        "--dsir-min-weight", "-1000000",
        "--chunk", "32:24",
    ])
    assert rc == 0
    summary = json.loads((out / "summary.json").read_text())
    assert summary["after_lm_filter"] <= summary["after_model_filter"]
    assert summary["after_dsir_filter"] <= summary["after_lm_filter"]
    assert summary["after_lm_filter"] > 0  # threshold didn't nuke the corpus
    assert summary["after_funnel"] <= summary["after_dsir_filter"]
    assert summary["final_rows"] > 0

    chunks = spark.read.parquet(str(out / "chunks"))
    assert chunks.count() == summary["chunks"] > 0
    # every surviving sample has at least one chunk, none has unknown ids
    back = spark.read.parquet(str(out / "shards"))
    missing = back.join(chunks.select("sample_id").distinct(),
                        "sample_id", "left_anti").count()
    assert missing == 0
    orphans = chunks.select("sample_id").distinct().join(
        back.select("sample_id"), "sample_id", "left_anti").count()
    assert orphans == 0
    assert chunks.filter("n_tokens > 32").count() == 0


def test_curate_cli_bad_chunk_spec(sf_dir, tmp_path):
    from dirt_hadoop_similarity_spark.curate import main as curate_main

    with pytest.raises(SystemExit):
        curate_main([sf_dir, "--out", str(tmp_path / "x"),
                     "--chunk", "64:ab"])


PARTITIONS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"


@contextlib.contextmanager
def caller_conf(spark, **conf):
    """Set the caller's session conf for one test and restore it."""
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def _run_with_testset(tmp_path, tag, *extra):
    corpus = tmp_path / f"corpus_{tag}.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    pos = tmp_path / f"p_{tag}.txt"
    pos.write_text("X chase Y\tX pursue Y\n")
    neg = tmp_path / f"n_{tag}.txt"
    neg.write_text("X chase Y\tX die from Y\n")
    out = tmp_path / f"out_{tag}"
    rc = cli_main(
        [str(corpus), "--testset", str(pos), str(neg), "--out", str(out),
         *extra]
    )
    assert rc == 0
    return out


def test_cli_second_run_reads_rewritten_corpus(spark, tmp_path, capsys):
    # the job's cached relations are released: a second in-process run
    # over the same path must not answer from the first run's cache
    corpus = tmp_path / "corpus5.txt"
    out = tmp_path / "out5"
    summaries = []
    for weight in (1, 4):
        lines = []
        for line in CORPUS:
            fields = line.split("\t")
            fields[2] = str(int(fields[2]) * weight)
            lines.append("\t".join(fields))
        corpus.write_text("\n".join(lines) + "\n")
        assert cli_main([str(corpus), "--out", str(out)]) == 0
        summaries.append(
            json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        )
    assert [s["global_n"] for s in summaries] == [16, 64]


def test_cli_leaves_caller_session_conf_unchanged(spark, tmp_path):
    with caller_conf(spark, **{PARTITIONS: "7", AQE: "false"}):
        _run_with_testset(tmp_path, "conf")
        assert spark.conf.get(PARTITIONS) == "7"
        assert spark.conf.get(AQE) == "false"


def test_cli_shuffle_partitions_is_static(spark, tmp_path):
    # an explicit value is the job's partition count: the MI table keeps
    # its 3 shuffle partitions (a derived count would be 1, and AQE
    # would coalesce)
    out = _run_with_testset(tmp_path, "parts", "--shuffle-partitions", "3")
    assert len(glob.glob(str(out / "mi.tsv" / "part-*"))) == 3


def test_cli_runs_a_fixed_number_of_spark_jobs(spark, tmp_path):
    # every plan of the job runs under its one sizing decision; a plan
    # that escapes it runs under the caller's AQE and adds stage jobs
    tracker = spark.sparkContext.statusTracker()

    def last_job():
        return max(tracker.getJobIdsForGroup(None), default=-1)

    with caller_conf(spark, **{PARTITIONS: "32", AQE: "true"}):
        before = last_job()
        _run_with_testset(tmp_path, "jobs")
        jobs = [j for j in tracker.getJobIdsForGroup(None) if j > before]
    assert len(jobs) == 10, jobs


def _assert_one_line_error(capsys, rc, path, out):
    assert rc == 2
    err = capsys.readouterr().err.strip().splitlines()
    assert len(err) == 1 and str(path) in err[0], err
    assert not out.exists()


def test_cli_missing_corpus_is_one_line_error(spark, tmp_path, capsys):
    missing = tmp_path / "no_such_corpus.txt"
    out = tmp_path / "out_missing_corpus"
    rc = cli_main([str(missing), "--out", str(out)])
    _assert_one_line_error(capsys, rc, missing, out)


def test_cli_missing_testset_is_one_line_error(spark, tmp_path, capsys):
    corpus = tmp_path / "corpus_mt.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    pos = tmp_path / "p_mt.txt"
    pos.write_text("X chase Y\tX pursue Y\n")
    missing = tmp_path / "no_such_negatives.txt"
    out = tmp_path / "out_missing_testset"
    rc = cli_main(
        [str(corpus), "--testset", str(pos), str(missing), "--out", str(out)]
    )
    _assert_one_line_error(capsys, rc, missing, out)


def test_cli_empty_testset_warns(spark, tmp_path, capsys):
    # no line of either file compiles, so the job scores nothing: it still
    # exits 0 with the usual metrics.json keys, and says why on stderr and
    # in report.md
    corpus = tmp_path / "corpus_empty_ts.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    pos = tmp_path / "p_empty_ts.txt"
    pos.write_text("not a phrase\tnor this one\nonly-one-column\n")
    neg = tmp_path / "n_empty_ts.txt"
    neg.write_text("X saw it happen Y\tnor this one\n")
    out = tmp_path / "out_empty_ts"
    rc = cli_main(
        [str(corpus), "--testset", str(pos), str(neg), "--out", str(out)]
    )
    assert rc == 0
    err = [l for l in capsys.readouterr().err.splitlines() if "warning" in l]
    assert len(err) == 1 and "0 pairs" in err[0], err
    metrics = json.loads((out / "metrics.json").read_text())
    assert set(metrics) == {"threshold", "precision", "recall", "f1", "pairs_found"}
    assert metrics["pairs_found"] == 0
    assert "compiled to 0 pairs" in (out / "report.md").read_text()


def test_cli_without_testset_removes_earlier_eval_outputs(spark, tmp_path):
    # a run without --testset into an earlier run's --out must not leave
    # that run's evaluation beside its own mi.tsv; other files stay
    out = _run_with_testset(tmp_path, "stale")
    for name in ("similarities.tsv", "pr_curve.csv", "metrics.json", "report.md"):
        assert (out / name).exists(), name
    (out / "notes.txt").write_text("the user's file\n")
    corpus = tmp_path / "corpus_stale.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    assert cli_main([str(corpus), "--out", str(out)]) == 0
    assert sorted(p.name for p in out.iterdir()) == ["mi.tsv", "notes.txt", "sum_mi.tsv"]


@pytest.mark.parametrize(
    "text",
    ["", "no tabs here\nhead\tonly-two-fields\n\t\t\n"],
    ids=["empty", "all_malformed"],
)
def test_cli_corpus_without_triples_warns(spark, tmp_path, capsys, text):
    # nothing survives the parse: the job still exits 0 with the usual
    # metrics.json keys, and says so on stderr and in report.md
    corpus = tmp_path / "corpus_no_triples.txt"
    corpus.write_text(text)
    pos = tmp_path / "p_nt.txt"
    pos.write_text("X chase Y\tX pursue Y\n")
    neg = tmp_path / "n_nt.txt"
    neg.write_text("X chase Y\tX die from Y\n")
    out = tmp_path / "out_no_triples"
    rc = cli_main(
        [str(corpus), "--testset", str(pos), str(neg), "--out", str(out)]
    )
    assert rc == 0
    captured = capsys.readouterr()
    err = [l for l in captured.err.splitlines() if "warning" in l]
    assert len(err) == 1 and "0 triples" in err[0], err
    assert json.loads(captured.out.strip().splitlines()[-1])["global_n"] == 0
    metrics = json.loads((out / "metrics.json").read_text())
    assert set(metrics) == {"threshold", "precision", "recall", "f1", "pairs_found"}
    assert metrics["pairs_found"] == 0
    assert err[0].split(": ", 1)[1] in (out / "report.md").read_text()
