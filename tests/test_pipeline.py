"""End-to-end DIRT pipeline on a hand-computed mini corpus.

Every expected MI and similarity value below is derived by hand from the
reference formulas (DirtDriver.java:694-698, 972-975):
    mi(p,s,w)  = ln( f(p,s,w) · N / (f(p,s) · f(s,w)) )    keep mi > 0.001
    score      = sqrt( simX · simY ),
    sim_s      = Σ_{f∈V1∩V2}(mi1+mi2) / (ΣMI(p1,s)+ΣMI(p2,s))
"""

import math

import pytest
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.plans.pipeline import run_pipeline

P_CHASE = "N:<nsubj:V:chase:>dobj:N"
P_PURSUE = "N:<nsubj:V:pursu:>dobj:N"
P_DIE = "N:<nsubj:V:die:>prep:P:from:>pobj:N"
P_GHOST = "N:<nsubj:V:ghost:>dobj:N"  # never appears in the corpus

CORPUS = [
    # head \t ngram \t count [\t year-counts ignored]
    "chase\tdogs/NNS/nsubj/2 chase/VBP/ROOT/0 cats/NNS/dobj/2\t3\t1999,3",
    "pursue\tdogs/NNS/nsubj/2 pursue/VBP/ROOT/0 cats/NNS/dobj/2\t2",
    "chase\tfoxes/NNS/nsubj/2 chase/VBP/ROOT/0 birds/NNS/dobj/2\t1",
    # aux-only verb → extraction rejected
    "be\tdogs/NNS/nsubj/2 are/VBP/ROOT/0 animals/NNS/attr/2\t7",
    # fewer than 3 tab fields → line dropped
    "malformed only-two-fields",
    # no parseable tokens → dropped
    "z\tbadtoken no/slashes here\t4",
    # unparsable count → weight 1
    "chase\tdogs/NNS/nsubj/2 chase/VBP/ROOT/0 cats/NNS/dobj/2\tnotanumber",
    "die\tpatients/NNS/nsubj/2 die/VBP/ROOT/0 from/IN/prep/2 infections/NNS/pobj/3\t2",
]

# hand-computed fact table: (path, slot, word) -> n
EXPECTED_TRIPLES = {
    (P_CHASE, "X", "dog"): 4,
    (P_CHASE, "Y", "cat"): 4,
    (P_CHASE, "X", "fox"): 1,
    (P_CHASE, "Y", "bird"): 1,
    (P_PURSUE, "X", "dog"): 2,
    (P_PURSUE, "Y", "cat"): 2,
    (P_DIE, "X", "patient"): 2,
    (P_DIE, "Y", "infect"): 2,
}
N = 18  # total mass

SW = {("X", "dog"): 6, ("Y", "cat"): 6, ("X", "fox"): 1, ("Y", "bird"): 1,
      ("X", "patient"): 2, ("Y", "infect"): 2}
PS = {(P_CHASE, "X"): 5, (P_CHASE, "Y"): 5, (P_PURSUE, "X"): 2,
      (P_PURSUE, "Y"): 2, (P_DIE, "X"): 2, (P_DIE, "Y"): 2}


def expected_mi(path, slot, word):
    return math.log(
        EXPECTED_TRIPLES[(path, slot, word)] * N / (PS[(path, slot)] * SW[(slot, word)])
    )


@pytest.fixture(scope="module")
def result(spark):
    lines = spark.createDataFrame([(l,) for l in CORPUS], ["value"])
    pairs = spark.createDataFrame(
        [
            (P_CHASE, P_PURSUE),   # real overlap on both slots
            (P_CHASE, P_DIE),      # no overlap → emitted with 0.0
            (P_CHASE, P_CHASE),    # self pair → 0.0
            (P_GHOST, P_DIE),      # one side unknown → emitted with 0.0
            (P_GHOST, "N:<nsubj:V:phantom:>dobj:N"),  # both unknown → absent
            (P_PURSUE, P_CHASE),   # duplicate in other orientation → collapses
        ],
        ["p1", "p2"],
    )
    return run_pipeline(spark, lines, pairs_df=pairs)


def test_triples(result):
    got = {
        (r.path, r.slot, r.word): r.n for r in result.triples.collect()
    }
    assert got == EXPECTED_TRIPLES


def test_global_n(result):
    assert result.n_total == N


def test_margins(result):
    sw = {(r.slot, r.word): r.n for r in result.word_margins.collect()}
    ps = {(r.path, r.slot): r.n for r in result.path_margins.collect()}
    assert sw == SW
    assert ps == PS


def test_mi_values(result):
    got = {(r.path, r.slot, r.word): r.mi for r in result.mi.collect()}
    assert set(got) == set(EXPECTED_TRIPLES)  # all survive the 0.001 cut here
    for key, val in got.items():
        assert val == pytest.approx(expected_mi(*key), rel=1e-12)


def test_sum_mi(result):
    got = {(r.path, r.slot): r.sum_mi for r in result.sum_mi.collect()}
    expect_chase_x = expected_mi(P_CHASE, "X", "dog") + expected_mi(P_CHASE, "X", "fox")
    assert got[(P_CHASE, "X")] == pytest.approx(expect_chase_x, rel=1e-12)
    assert got[(P_PURSUE, "Y")] == pytest.approx(
        expected_mi(P_PURSUE, "Y", "cat"), rel=1e-12
    )


def test_similarities(result):
    sims = {(r.p1, r.p2): r.score for r in result.sims.collect()}

    # canonical ordering puts P_CHASE before P_DIE etc. (ASCII compare)
    key_cp = tuple(sorted((P_CHASE, P_PURSUE)))
    key_cd = tuple(sorted((P_CHASE, P_DIE)))
    key_gd = tuple(sorted((P_GHOST, P_DIE)))

    num_x = expected_mi(P_CHASE, "X", "dog") + expected_mi(P_PURSUE, "X", "dog")
    den_x = (
        expected_mi(P_CHASE, "X", "dog")
        + expected_mi(P_CHASE, "X", "fox")
        + expected_mi(P_PURSUE, "X", "dog")
    )
    sim_x = num_x / den_x
    # Y slot mirrors X exactly in this corpus
    expect_score = math.sqrt(sim_x * sim_x)
    assert sims[key_cp] == pytest.approx(expect_score, rel=1e-12)

    # no-overlap and half-unknown pairs are EMITTED with score 0.0
    assert sims[key_cd] == 0.0
    assert sims[key_gd] == 0.0
    # self pair scores 0.0
    assert sims[(P_CHASE, P_CHASE)] == 0.0
    # both-unknown pair is absent; duplicate orientation collapsed
    assert len(sims) == 4


def test_mi_threshold_filters(spark):
    """A triple whose MI is exactly 0 is cut by the strict > 0.001 filter.

    Constructed so f(A,X,dog)·N == f(A,X)·f(X,dog):
      A="chase": X = {dog:1, cat:3};  B="see": X = {dog:2};  Y all "mice".
      N = 12, ps(A,X) = 4, sw(X,dog) = 3 → mi(A,X,dog) = ln(12/12) = 0.
    """
    lines = spark.createDataFrame(
        [
            ("c\tdogs/NNS/nsubj/2 chase/VBP/ROOT/0 mice/NNS/dobj/2\t1",),
            ("c\tcats/NNS/nsubj/2 chase/VBP/ROOT/0 mice/NNS/dobj/2\t3",),
            ("s\tdogs/NNS/nsubj/2 see/VBP/ROOT/0 mice/NNS/dobj/2\t2",),
        ],
        ["value"],
    )
    res = run_pipeline(spark, lines)
    assert res.n_total == 12
    kept = {(r.path, r.slot, r.word) for r in res.mi.collect()}
    chase = "N:<nsubj:V:chase:>dobj:N"
    see = "N:<nsubj:V:see:>dobj:N"
    assert (chase, "X", "dog") not in kept  # mi == 0 → filtered
    assert kept == {
        (chase, "X", "cat"),
        (chase, "Y", "mice"),
        (see, "X", "dog"),
        (see, "Y", "mice"),
    }


def test_full_pipeline_stem_table_covers_live_vocab(sf_dir):
    """dirt_full_pipeline's oracle inlines the stemmer vocabulary as a
    VALUES lookup (FULL_PIPE_STEMS).  Two invariants keep that oracle
    honest against testdata changes:

      * COVERAGE — every word the pipeline will stem (token positions
        0,1,2,3,5 of each >=6-token document) appears in the mapping, at
        every shipped sf dir; a regenerated corpus with new words fails
        HERE, not as a silent inner-join row loss in the oracle;
      * FIDELITY — each mapped stem equals the engine's own porter_stem,
        so the lookup is exactly the tested stemmer materialized.
    """
    import os

    import duckdb

    from dirt_hadoop_similarity_spark.functions.porter import porter_stem
    from dirt_hadoop_similarity_spark.plans.queries_more import (
        FULL_PIPE_STEMS,
    )

    for word, stem in FULL_PIPE_STEMS.items():
        assert porter_stem(word) == stem, word

    dirs = {sf_dir} | {
        f"/root/testdata/sf{s}"
        for s in ("0.001", "0.01", "0.1")
        if os.path.isdir(f"/root/testdata/sf{s}")
    }
    for d in sorted(dirs):
        vocab = {
            w
            for (w,) in duckdb.connect().execute(
                f"""
                WITH t AS (SELECT list_filter(string_split(text, ' '),
                                              w -> w <> '') AS w
                           FROM '{d}/documents.parquet')
                SELECT DISTINCT unnest([w[1], w[2], w[3], w[4], w[6]])
                FROM t WHERE len(w) >= 6
                """
            ).fetchall()
        }
        missing = vocab - set(FULL_PIPE_STEMS)
        assert not missing, f"{d}: vocabulary not in FULL_PIPE_STEMS: {missing}"


def test_run_pipeline_sets_no_conf(spark, tmp_path):
    # every plan runs under the conf it is given: sizing is the caller's
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    given = dict(zip(keys, ("5", "false")))
    corpus = tmp_path / "corpus.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    try:
        for k, v in given.items():
            spark.conf.set(k, v)
        res = run_pipeline(spark, str(corpus))
        try:
            assert {k: spark.conf.get(k) for k in keys} == given
            assert res.triples.rdd.getNumPartitions() == 5
            assert res.mi.rdd.getNumPartitions() == 5
        finally:
            res.triples.unpersist()
            res.mi.unpersist()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_run_pipeline_releases_its_cache_when_global_n_fails(
    spark, tmp_path, monkeypatch
):
    from dirt_hadoop_similarity_spark.operators import counting

    seen = []

    def failing_global_n(triples):
        seen.append(triples)
        raise RuntimeError("global_n failed")

    monkeypatch.setattr(counting, "global_n", failing_global_n)
    corpus = tmp_path / "corpus.txt"
    corpus.write_text("\n".join(CORPUS) + "\n")
    with pytest.raises(RuntimeError, match="global_n failed"):
        run_pipeline(spark, str(corpus))
    assert not seen[0].storageLevel.useMemory
