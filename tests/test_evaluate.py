"""Evaluation-module tests: hand-computed PR scan + the reference's
golden output files as input data."""

import pytest

from dirt_hadoop_similarity_spark.plans import evaluate


@pytest.fixture(scope="module")
def tiny(spark):
    scored = spark.createDataFrame(
        [
            ("a", "b", 0.9),   # pos
            ("a", "c", 0.8),   # neg
            ("b", "c", 0.7),   # pos
            ("c", "d", 0.6),   # unlabeled → ignored by the scan
            ("d", "e", 0.5),   # pos
        ],
        ["p1", "p2", "score"],
    )
    gold = spark.createDataFrame(
        [
            ("a", "b", 1),
            ("b", "c", 1),
            ("d", "e", 1),
            ("e", "f", 1),    # positive never scored → recall ceiling < 1
            ("a", "c", 0),
        ],
        ["p1", "p2", "label"],
    )
    return scored, gold


def test_pr_scan_values(tiny):
    scored, gold = tiny
    scan = evaluate.evaluate(scored, gold)["scan"]
    rows = {(r.p1, r.p2): r for r in scan.collect()}
    assert len(rows) == 4  # unlabeled pair dropped
    r1 = rows[("a", "b")]
    assert (r1.tp, r1.fp) == (1, 0) and r1.precision == 1.0
    assert r1.recall == pytest.approx(0.25)
    r3 = rows[("b", "c")]
    assert (r3.tp, r3.fp) == (2, 1)
    assert r3.precision == pytest.approx(2 / 3)
    r4 = rows[("d", "e")]
    assert r4.recall == pytest.approx(0.75)


def test_optimal_threshold(tiny):
    scored, gold = tiny
    res = evaluate.evaluate(scored, gold)
    m = res["metrics"]
    # best F1: at threshold 0.5 → tp=3 fp=1 → P=0.75 R=0.75 F1=0.75
    assert m["threshold"] == pytest.approx(0.5)
    assert m["f1"] == pytest.approx(0.75)


def test_error_samples(tiny):
    scored, gold = tiny
    res = evaluate.evaluate(scored, gold)
    s = res["samples"]
    tp = {(r.p1, r.p2) for r in s["tp"].collect()}
    fp = {(r.p1, r.p2) for r in s["fp"].collect()}
    fn = {(r.p1, r.p2) for r in s["fn"].collect()}
    assert tp == {("a", "b"), ("b", "c"), ("d", "e")}
    assert fp == {("a", "c")}
    assert fn == {("e", "f")}  # the never-scored positive
    assert [r.score for r in s["fn"].collect()] == [0.0]


@pytest.mark.parametrize(
    "scored_rows, gold_rows, metrics, scan",
    [
        pytest.param(
            # prefixes 1 and 4 both reach F1 = 2/3 (P=1 R=1/2, P=1/2 R=1):
            # the tie resolves to the higher score
            [("a", "b", 0.9), ("c", "d", 0.8), ("e", "f", 0.7), ("g", "h", 0.6)],
            [("a", "b", 1), ("c", "d", 0), ("e", "f", 0), ("g", "h", 1)],
            {"threshold": 0.9, "precision": 1.0, "recall": 0.5, "f1": 2 / 3},
            [("a", "b", 1, 1, 0), ("c", "d", 0, 1, 1), ("e", "f", 0, 1, 2),
             ("g", "h", 1, 2, 2)],
            id="f1_tie_takes_higher_score",
        ),
        pytest.param(
            # equal scores accumulate in (p1, p2) order
            [("b", "c", 0.5), ("a", "z", 0.5)],
            [("b", "c", 0), ("a", "z", 1)],
            {"threshold": 0.5, "precision": 1.0, "recall": 1.0, "f1": 1.0},
            [("a", "z", 1, 1, 0), ("b", "c", 0, 1, 1)],
            id="equal_scores_in_pair_order",
        ),
        pytest.param(
            # listed reversed in the negative file first, then positive
            [("a", "b", 0.9)],
            [("b", "a", 0), ("a", "b", 1)],
            {"threshold": 0.9, "precision": 1.0, "recall": 1.0, "f1": 1.0},
            [("a", "b", 1, 1, 0)],
            id="pair_in_both_files_keeps_label_1",
        ),
        pytest.param(
            [("x", "y", 0.9)],
            [("a", "b", 1)],
            {"threshold": 0.0, "precision": 0.0, "recall": 0.0, "f1": 0.0},
            [],
            id="no_labeled_rows",
        ),
    ],
)
def test_scan_and_metrics(spark, scored_rows, gold_rows, metrics, scan):
    res = evaluate.evaluate(
        spark.createDataFrame(scored_rows, "p1 string, p2 string, score double"),
        spark.createDataFrame(gold_rows, "p1 string, p2 string, label int"),
    )
    assert res["metrics"] == metrics
    rows = res["scan"].collect()
    assert [(r.p1, r.p2, r.label, r.tp, r.fp) for r in rows] == scan
    assert len(res["scan"].columns) == 9


def test_golden_files_load_and_evaluate(spark):
    """Drive the evaluator over the reference's shipped golden output.

    The shipped part files hold 569 rows of which 159 have score > 0
    (the AnalysisReport's "538 pairs found" refers to the full Large run,
    not this shipped sample — `awk -F'\\t' '$3>0' *.txt | wc -l` = 159)."""
    scored = evaluate.load_system_output(
        spark, "/root/reference/analysis/output_large/*.txt"
    )
    assert scored.count() == 159
    from dirt_hadoop_similarity_spark.functions.phrases import compile_pair_file

    # the goldens predate stemming and the passive rule: compile the test
    # set with identity stem to maximize join coverage (SURVEY.md §5)
    rows = compile_pair_file(
        "/root/reference/analysis/positive-preds.txt", 1, stem=lambda w: w
    ) + compile_pair_file(
        "/root/reference/analysis/negative-preds.txt", 0, stem=lambda w: w
    )
    gold = spark.createDataFrame(rows, ["p1", "p2", "label"])
    res = evaluate.evaluate(scored, gold)
    m = res["metrics"]
    assert 0 < m["f1"] <= 1 and 0 < m["precision"] <= 1
    assert res["n_scored"] == 159


def test_system_output_drops_malformed_lines(spark, tmp_path):
    """A TSV line with a missing pair field must be DROPPED, not
    canonicalized into a fabricated self-pair: least/greatest skip null
    arguments, so ('x', NULL, 5.0) used to become the pair ('x', 'x')."""
    from dirt_hadoop_similarity_spark.plans.evaluate import load_system_output

    p = tmp_path / "part-00000"
    p.write_text("b\ta\t0.9\nx\t\nonly_one_field\n\t0.5\nc\td\t0.8\n")
    out = load_system_output(spark, str(tmp_path)).collect()
    pairs = {(r.p1, r.p2) for r in out}
    assert pairs == {("a", "b"), ("c", "d")}, pairs


def test_local_frame_is_a_local_relation(spark):
    from dirt_hadoop_similarity_spark.plans.evaluate import SAMPLE_SCHEMA
    from dirt_hadoop_similarity_spark.session import local_frame

    rows = [("a", "b", 0.5, 1), ("c", "d", 0.0, 0)]
    df = local_frame(spark, rows, SAMPLE_SCHEMA)
    assert df.schema.simpleString() == (
        "struct<p1:string,p2:string,score:double,label:int>"
    )
    assert [tuple(r) for r in df.collect()] == rows
    # no parallelized slices: the plan is a scan of driver-held rows
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lstrip("*( 0123456789)").startswith("LocalTableScan"), plan
    empty = local_frame(spark, [], SAMPLE_SCHEMA)
    assert empty.columns == ["p1", "p2", "score", "label"]
    assert empty.collect() == []
