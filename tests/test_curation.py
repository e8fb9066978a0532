"""Curation-funnel invariants the oracle can't express: the budget-cut
greedy property, funnel monotonicity, and the curate() corpus API."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators import curation


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_funnel_stage_counts_monotone(spark, sf_dir):
    summary = curation.funnel_summary(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )
    rows = {r["stage"]: r for r in summary.collect()}
    assert set(rows) == set(curation.STAGES)
    for earlier, later in zip(curation.STAGES, curation.STAGES[1:]):
        assert rows[later]["n_docs"] <= rows[earlier]["n_docs"]
        assert rows[later]["n_tokens"] <= rows[earlier]["n_tokens"]
    assert rows["1_ingest"]["n_docs"] > 0


def test_exact_dedup_keeps_min_id(spark):
    docs = _docs(
        spark,
        [(7, "the cat sat on the mat"), (3, "the cat sat on the mat"),
         (5, "a completely different document entirely")],
    )
    ann = curation.annotate(docs).collect()
    kept = {r["doc_id"] for r in ann if r["keep_exact"]}
    assert kept == {3, 5}


def test_near_dup_drops_younger_of_pair(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = _docs(
        spark,
        [(1, base), (2, base + " extra"),  # near-dups: shared shingles
         (9, "unrelated text about completely different subject matter here")],
    )
    ann = {r["doc_id"]: r for r in curation.annotate(docs).collect()}
    assert ann[1]["keep_near"] is True
    assert ann[2]["keep_near"] is False  # larger id of the near-dup pair
    assert ann[9]["keep_near"] is True


def test_budget_cut_is_prefix_of_quality_order(spark, sf_dir):
    """The kept set is exactly the maximal prefix of the
    (quality desc, doc_id asc) order whose running token total fits the
    budget — the two-level bucket cumsum must agree doc-for-doc with the
    naive global-sort formulation it replaces."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ann = curation.annotate(docs)
    gated = ann.filter("keep_quality")
    total = gated.agg(F.sum("n_tokens")).first()[0]
    budget = total // 2

    sel = curation.budget_selection(gated, budget_fraction=0.5)
    rows = sorted(
        sel.collect(), key=lambda r: (-r["quality"], r["doc_id"])
    )
    kept_tokens = sum(r["n_tokens"] for r in rows if r["in_budget"])
    assert 0 < kept_tokens <= budget

    running = 0
    for r in rows:
        running += r["n_tokens"]
        assert r["in_budget"] == (running <= budget), (r["doc_id"], running)


def test_curate_returns_original_schema_subset(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kept = curation.curate(docs)
    assert kept.columns == docs.columns
    assert 0 < kept.count() < docs.count()
    # every kept row is an original row
    assert kept.join(docs, kept.columns, "left_anti").count() == 0


def test_empty_gate_yields_zero_budget_stage(spark):
    docs = _docs(spark, [(1, "zzz qqq"), (2, "yyy xxx")])  # no 'en' markers
    summary = {r["stage"]: r for r in curation.funnel_summary(docs).collect()}
    assert summary["4_quality_lang"]["n_docs"] == 0
    assert summary["5_token_budget"]["n_docs"] == 0
    assert summary["5_token_budget"]["n_tokens"] == 0


def test_budget_cut_unpartitioned_window_stays_on_bucket_relation(spark):
    """Pin the bound behind the 'WindowExec: No Partition Defined'
    warning: the ONLY unpartitioned window in the budget plan is the
    bucket-level cumsum over groupBy(quality) output (≤ ~1e6 rows — one
    per distinct rounded quality), never the corpus-sized doc relation.
    A refactor moving the cumsum onto docs would show an unpartitioned
    window over n_tokens instead of _bucket_tokens, or drop the
    Aggregate from its subtree."""
    docs = spark.createDataFrame(
        [(i, f"doc text number {i} with several words") for i in range(50)],
        "doc_id long, text string",
    ).withColumn("n_tokens", F.size(F.split("text", " ")))
    gated = docs.withColumn("quality", F.length("text") / 100.0)
    out = curation.budget_selection(gated)
    lines = out._jdf.queryExecution().optimizedPlan().toString().splitlines()

    def indent(line):
        return len(line) - len(line.lstrip(" :+-"))

    unpartitioned = [
        i
        for i, l in enumerate(lines)
        # a partitioned Window prints [exprs], [partition], [sort] — three
        # bracket groups; unpartitioned prints only [exprs], [sort]
        if "Window [" in l and l.count("], [") == 1
    ]
    assert len(unpartitioned) == 1, lines
    i = unpartitioned[0]
    assert "_bucket_tokens" in lines[i], lines[i]
    subtree = []
    for line in lines[i + 1:]:
        if indent(line) <= indent(lines[i]):
            break
        subtree.append(line)
    assert any("Aggregate" in l and "quality" in l for l in subtree), subtree


def test_pack_sequences_offsets_exact_and_bucket_windowed(spark):
    """token_offset must equal the local prefix sum over (bucket, id)
    order, and the only unpartitioned window in the plan must consume
    the bucket aggregate (same bound as budget_selection)."""
    from dirt_hadoop_similarity_spark.operators.sampling import GRANULARITY

    docs = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(40)], "doc_id long, n_tokens long"
    )
    packed = curation.pack_sequences(docs, seq_len=64)
    rows = packed.collect()

    import hashlib

    def bucket(doc_id):
        h = hashlib.md5(f"pack|{doc_id}".encode()).hexdigest()
        return int(h[:15], 16) % GRANULARITY

    order = sorted(
        [(bucket(i), i, 10 + i % 7) for i in range(40)]
    )
    offsets, acc = {}, 0
    for _, i, n in order:
        offsets[i] = acc
        acc += n
    for r in rows:
        assert r.token_offset == offsets[r.doc_id], r
        assert r.bin_id == offsets[r.doc_id] // 64

    lines = packed._jdf.queryExecution().optimizedPlan().toString().splitlines()
    unpart = [l for l in lines if "Window [" in l and l.count("], [") == 1]
    assert len(unpart) == 1 and "_bucket_tokens" in unpart[0], unpart


def test_corpus_diff_statuses(spark):
    from dirt_hadoop_similarity_spark.operators.curation import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "before"), (3, "gone")], ["doc_id", "text"])
    new = spark.createDataFrame(
        [(1, "same"), (2, "after"), (4, "fresh")], ["doc_id", "text"])
    out = {r["doc_id"]: r["status"]
           for r in corpus_diff(old, new, "doc_id").collect()}
    assert out == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


class TestChunkDocuments:
    def test_stride_windows_cover_all_tokens(self, spark):
        import hashlib
        docs = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(10)))],
            "doc_id long, text string",
        )
        out = sorted(
            curation.chunk_documents(docs, max_tokens=4, stride=3).collect(),
            key=lambda r: r["chunk_id"],
        )
        assert [(r["chunk_id"], r["start_tok"], r["n_tokens"]) for r in out] \
            == [(0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1)]
        # every token is covered; adjacent chunks overlap by max - stride
        covered = set()
        for r in out:
            covered |= set(range(r["start_tok"], r["start_tok"] + r["n_tokens"]))
        assert covered == set(range(10))
        expect = hashlib.md5("t3 t4 t5 t6".encode()).hexdigest()
        assert out[1]["chunk_hash"] == expect

    def test_empty_doc_yields_no_chunks(self, spark):
        docs = spark.createDataFrame(
            [(1, ""), (2, "   ")], "doc_id long, text string"
        )
        assert curation.chunk_documents(docs).count() == 0

    def test_disjoint_when_stride_equals_max(self, spark):
        docs = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(9)))],
            "doc_id long, text string",
        )
        out = curation.chunk_documents(docs, max_tokens=3, stride=3).collect()
        assert sorted(r["n_tokens"] for r in out) == [3, 3, 3]
        starts = sorted(r["start_tok"] for r in out)
        assert starts == [0, 3, 6]

    def test_stride_validation(self, spark):
        docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="stride"):
            curation.chunk_documents(docs, max_tokens=4, stride=5)
        with pytest.raises(ValueError, match="max_tokens"):
            curation.chunk_documents(docs, max_tokens=0)
