"""Dedup operator unit tests on hand-built corpora."""

import pytest
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),   # near dup
        (4, "completely different text about spark engines"),
        (5, "the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].keeper_id == 1
    assert groups[0].n_copies == 3


def test_distinct_by_text(docs):
    kept = sorted(r.doc_id for r in dedup.distinct_by_text(docs).collect())
    assert kept == [1, 3, 4]


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame([(1, "one two")], ["doc_id", "text"])
    rows = dedup.word_shingles(df, n=3).collect()
    assert [(r.doc_id, r.shingle) for r in rows] == [(1, "one two")]


def test_minhash_identical_docs_share_signature(docs):
    sh = dedup.word_shingles(docs, n=3)
    sig = dedup.minhash_signatures(sh, num_hashes=4)
    rows = {r.doc_id: (r.h0, r.h1, r.h2, r.h3) for r in sig.collect()}
    assert rows[1] == rows[2] == rows[5]
    assert rows[1] != rows[4]


def test_lsh_finds_exact_and_near_dups(docs):
    out = dedup.minhash_near_duplicates(docs, n=3, num_hashes=8, bands=4,
                                        rows_per_band=2)
    pairs = {(r.id_a, r.id_b): r.est_jaccard for r in out.collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 5)] == 1.0
    # near-dup 3 should be a candidate of the dup cluster with high est_jaccard
    assert (1, 3) in pairs
    # unrelated doc 4 pairs with nothing
    assert not any(4 in p for p in pairs)


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"]
    )
    # 2-shingles: {ab,bc,cd} vs {ab,bc,ce} → common 2, union 4 → 0.5
    out = dedup.jaccard_pairs(df, n=2).collect()
    assert len(out) == 1
    assert out[0].n_common == 2
    assert out[0].jaccard == pytest.approx(0.5)


def test_lsh_verified_matches_exact_jaccard_on_candidates(docs):
    out = dedup.verified_near_duplicates(docs, n=3, num_hashes=8, bands=4,
                                         rows_per_band=2)
    rows = {(r.id_a, r.id_b): r for r in out.collect()}
    # exact duplicates: jaccard exactly 1.0, n_common = shingle count
    assert rows[(1, 2)].jaccard == 1.0
    assert rows[(1, 5)].jaccard == 1.0
    # every candidate's exact jaccard equals jaccard_pairs' number
    exact = {(r.id_a, r.id_b): r.jaccard
             for r in dedup.jaccard_pairs(docs, n=3).collect()}
    for pair, r in rows.items():
        assert r.jaccard == pytest.approx(exact.get(pair, 0.0)), pair
    # the min_jaccard cut drops weak candidates
    strict = dedup.verified_near_duplicates(docs, min_jaccard=0.9)
    assert all(r.jaccard >= 0.9 for r in strict.collect())


def test_simhash_identical_and_disjoint(docs):
    fp = {r.doc_id: r.simhash for r in dedup.simhash(docs, bits=16).collect()}
    assert fp[1] == fp[2] == fp[5]
    assert 0 <= fp[1] < (1 << 16)


def test_band_layout_guard(spark):
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="must equal num_hashes"):
        dedup.minhash_near_duplicates(df, num_hashes=16, bands=4, rows_per_band=2)
    sigs = dedup.signature_index(df, num_hashes=8)
    with pytest.raises(ValueError, match="must equal num_hashes"):
        dedup.incremental_near_duplicates(
            sigs, df, num_hashes=8, bands=3, rows_per_band=2
        )


def test_threshold_sweep_monotone_and_consistent(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = dedup.minhash_near_duplicates(docs)
    sweep = {r["threshold_hashes"]: r for r in
             dedup.threshold_sweep(pairs).collect()}
    assert set(sweep) == set(range(1, 9))
    # both curves are non-increasing in the threshold
    for k in range(1, 8):
        assert sweep[k]["n_pairs"] >= sweep[k + 1]["n_pairs"]
        assert sweep[k]["n_docs_dropped"] >= sweep[k + 1]["n_docs_dropped"]
    # spot-check the k=4 cut against direct filtering (est >= 0.5)
    direct_pairs = pairs.filter("est_jaccard >= 0.5").count()
    direct_docs = (pairs.filter("est_jaccard >= 0.5")
                   .select("id_b").distinct().count())
    assert sweep[4]["n_pairs"] == direct_pairs
    assert sweep[4]["n_docs_dropped"] == direct_docs
    assert sweep[1]["n_pairs"] == pairs.count()


class TestDuplicateSpans:
    def test_cross_doc_shared_passage_merges_to_one_span(self, spark):
        docs = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "x y a b c d e f q")],
            "doc_id long, text string",
        )
        rows = {(r["doc_id"]): r for r in
                dedup.duplicate_spans(docs, k=3).collect()}
        # shared passage "a b c d e f": 4 duplicated 3-grams per doc,
        # merged into ONE maximal span each
        assert rows[1]["span_start"] == 0 and rows[1]["span_end"] == 5
        assert rows[2]["span_start"] == 2 and rows[2]["span_end"] == 7
        assert rows[1]["n_grams"] == rows[2]["n_grams"] == 4
        assert len(rows) == 2

    def test_within_doc_repetition_found_and_gaps_split_spans(self, spark):
        docs = spark.createDataFrame(
            [(1, "p q r s p q r s")], "doc_id long, text string"
        )
        spans = sorted(
            (r["span_start"], r["span_end"])
            for r in dedup.duplicate_spans(docs, k=3).collect()
        )
        # "p q r" and "q r s" repeat (positions 0,1 and 4,5); "r s p" /
        # "s p q" occur once -> the gap at 2..3 splits two spans
        assert spans == [(0, 3), (4, 7)]

    def test_no_duplication_no_rows_and_validation(self, spark):
        docs = spark.createDataFrame(
            [(1, "all tokens here are distinct words")],
            "doc_id long, text string",
        )
        assert dedup.duplicate_spans(docs, k=3).count() == 0
        with pytest.raises(ValueError, match="k must"):
            dedup.duplicate_spans(docs, k=0)
        with pytest.raises(ValueError, match="min_occurrences"):
            dedup.duplicate_spans(docs, min_occurrences=1)


class TestSplitContamination:
    def test_matrix_counts_and_symmetry(self, spark):
        # Known duplicate texts; force splits by choosing a one-split
        # assignment so pair classes are predictable: with a single
        # split every pair lands in (s, s).
        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "the quick brown fox jumps over the lazy dog"),
            (4, "completely different text about spark engines"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        out = dedup.split_contamination(docs, {"all": 1.0}).collect()
        assert len(out) == 1
        row = out[0]
        assert (row["split_a"], row["split_b"]) == ("all", "all")
        assert row["n_pairs"] == 3      # (1,2) (1,3) (2,3)
        assert row["n_docs_b"] == 2     # greater-id members: 2 and 3

    def test_cross_split_pairs_classified(self, spark):
        # Pin the split of each doc by probing assign_split first, then
        # check the matrix classifies a known duplicate pair as
        # cross-split when its members land in different splits.
        from dirt_hadoop_similarity_spark.operators import sampling

        dup_text = "alpha beta gamma delta epsilon zeta eta theta"
        ids = list(range(1, 41))
        docs = spark.createDataFrame(
            [(i, dup_text) for i in ids], ["doc_id", "text"])
        splits = {"train": 0.5, "test": 0.5}
        assigned = {
            r["doc_id"]: r["split"]
            for r in sampling.assign_split(
                docs, "doc_id", splits).collect()
        }
        assert set(assigned.values()) == {"train", "test"}  # both present
        from collections import Counter
        expected = Counter()
        for a in ids:
            for b in ids:
                if a < b:
                    pair = tuple(sorted((assigned[a], assigned[b])))
                    expected[pair] += 1
        got = {(r["split_a"], r["split_b"]): r["n_pairs"]
               for r in dedup.split_contamination(docs, splits).collect()}
        assert got == dict(expected)

    def test_threshold_excludes_weak_pairs(self, spark):
        rows = [
            (1, "one two three four five six seven eight nine ten"),
            (2, "one two three four five six seven eight nine ten"),
            (3, "totally unrelated words nothing shared here at all"),
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        out = dedup.split_contamination(docs, {"all": 1.0}, min_est=1.0)
        assert [r["n_pairs"] for r in out.collect()] == [1]


def test_word_shingles_tokenization_bound_once(spark):
    """Same O(L²) guard as textsim: the shingle lambda slices the bound
    `_toks` column; split(text) survives as exactly one projection in
    the optimized plan instead of being re-inlined into the per-position
    lambda body."""
    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    out = dedup.word_shingles(df, n=3)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(") == 1, plan
    assert "_toks#" in plan, plan
    assert out.columns == ["doc_id", "shingle"]
