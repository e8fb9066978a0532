"""Tests of the benchmark itself: generator determinism, the reference
against a real CLI job, span self-time arithmetic and the output gate.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import os
import shutil
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, reference  # noqa: E402
from perfbench.run import Bench  # noqa: E402
from perfbench.trace import Span, Tracer  # noqa: E402

TINY_LONG = dict(gen.WARMUP, lines=120, pos=12, neg=12)
TINY_SHORT = dict(
    gen.WORKLOADS["score_hubs"], lines=400, groups=12, nouns=80, topic=15, pool=80,
    pos=40, neg=60, hubs=4,
)


@pytest.mark.parametrize("spec", [TINY_LONG, TINY_SHORT])
def test_same_seed_same_bytes_other_seed_other_bytes(spec, tmp_path):
    a = gen.materialize(spec, 7, str(tmp_path / "a"))
    b = gen.materialize(spec, 7, str(tmp_path / "b"))
    c = gen.materialize(spec, 8, str(tmp_path / "c"))
    for name in ("corpus", "pos", "neg"):
        with open(a[name], "rb") as fa, open(b[name], "rb") as fb:
            assert fa.read() == fb.read()
    with open(a["corpus"], "rb") as fa, open(c["corpus"], "rb") as fc:
        assert fa.read() != fc.read()


def test_cache_key_covers_size_and_seed():
    assert gen.cache_key(TINY_LONG, 1) != gen.cache_key(dict(TINY_LONG, lines=121), 1)
    assert gen.cache_key(TINY_LONG, 1) != gen.cache_key(TINY_LONG, 2)


def test_generator_emits_every_malformed_share():
    lines = gen.corpus_lines(dict(TINY_LONG, lines=2000, malformed=0.3), 3)
    fields = [line.split("\t") for line in lines]
    assert any(len(f) < 3 for f in fields)
    assert any(len(f) >= 3 and not f[2].strip().isdigit() for f in fields)
    assert any(" garbage" in line for line in lines)
    assert any("/ROOT/0" in line and "is/VBZ/ROOT" in line for line in lines)
    kept = [reference.parse_line(line) for line in lines]
    assert any(k is None for k in kept) and any(k is not None for k in kept)


def _span(sid, name, start, end, parent):
    return Span(sid, name, start, end, parent, "t")


def test_self_time_subtracts_covered_child_intervals():
    t = Tracer("t")
    t.spans = [
        _span(0, "job", 0.0, 10.0, None),
        _span(1, "a", 1.0, 4.0, 0),
        _span(2, "b", 3.0, 6.0, 0),  # overlaps a: union [1, 6] covers 5
        _span(3, "c", 2.0, 3.0, 1),  # nested under a
        _span(4, "a", 8.0, 9.0, 0),  # a second 'a' span adds up
    ]
    selfs = t.self_times()
    assert selfs["job"] == pytest.approx(10.0 - 5.0 - 1.0)
    assert selfs["a"] == pytest.approx((3.0 - 1.0) + 1.0)
    assert selfs["b"] == pytest.approx(3.0)
    assert selfs["c"] == pytest.approx(1.0)
    assert t.totals()["a"] == pytest.approx(4.0)


def test_tracer_records_parent_links():
    t = Tracer("run-1")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert {s.run for s in t.spans} == {"run-1"}


@pytest.fixture(scope="module")
def cli_run(tmp_path_factory):
    """One real CLI job on a tiny seeded input, plus its reference."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from dirt_hadoop_similarity_spark.__main__ import main as cli_main
    from dirt_hadoop_similarity_spark.session import get_spark

    d = tmp_path_factory.mktemp("cli")
    inputs = gen.materialize(TINY_SHORT, 5, str(d / "inputs"))
    ref = reference.load_or_compute(inputs, workers=2)
    spark = get_spark(master="local[2]")
    out = str(d / "out")
    rc = cli_main(
        [inputs["corpus"], "--testset", inputs["pos"], inputs["neg"], "--out", out]
    )
    assert rc == 0
    yield out, ref
    spark.stop()


def test_reference_agrees_with_cli_job(cli_run):
    out, ref = cli_run
    assert ref["metrics"]["f1"] > 0
    assert ref["counts"]["pairs_emitted"] > ref["counts"]["pairs_nonzero"] > 0
    assert reference.check_outputs(out, ref) == []


def test_corrupted_similarities_count_as_a_failed_job(cli_run, tmp_path):
    out, ref = cli_run
    bad = str(tmp_path / "out")
    shutil.copytree(out, bad)
    part = glob.glob(os.path.join(bad, "similarities.tsv", "part-*"))[0]
    with open(part, encoding="utf-8") as f:
        rows = f.read().splitlines()
    p1, p2, score = rows[0].split("\t")
    rows[0] = f"{p1}\t{p2}\t{float(score) * (1 + 1e-6) + 1e-12!r}"
    with open(part, "w", encoding="utf-8") as f:
        f.write("\n".join(rows) + "\n")

    b = Bench.__new__(Bench)
    b.attempted = b.failed = 0
    assert b.verify(out, ref)
    assert not b.verify(bad, ref)
    assert (b.attempted, b.failed) == (2, 1)


def test_dropped_row_is_caught(cli_run, tmp_path):
    out, ref = cli_run
    bad = str(tmp_path / "out")
    shutil.copytree(out, bad)
    part = glob.glob(os.path.join(bad, "similarities.tsv", "part-*"))[0]
    with open(part, encoding="utf-8") as f:
        rows = f.read().splitlines()
    with open(part, "w", encoding="utf-8") as f:
        f.write("\n".join(rows[1:]) + "\n")
    assert any("missing" in p for p in reference.check_outputs(bad, ref))
