"""Text-analysis function tests."""

import pytest
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.functions import textfns


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], ["text"])
    return df.select(col(F.col("text")).alias("v")).first().v


def test_token_counts(spark):
    assert _one(spark, "a bb  ccc ", textfns.token_count) == 3
    assert _one(spark, "", textfns.token_count) == 0
    # "abcdefgh" → "abcd efgh" → 2; "abc" → 1
    assert _one(spark, "abcdefgh abc", textfns.bpe_ish_token_count) == 3


def _ltoks(text):
    return textfns.tokens(F.lower(text))


def _quality(text):
    return textfns.quality_score_from(textfns.tokens(text), _ltoks(text), text)


def _lang_id(text):
    return textfns.lang_id_from_scores({
        lang: textfns._marker_hits(_ltoks(text), markers)
        for lang, markers in textfns.LANG_MARKERS.items()
    })


def test_ratios(spark):
    def stop(t):
        return textfns.stopword_ratio_from(_ltoks(t))

    def mwl(t):
        return textfns.mean_word_length_from(textfns.tokens(t))

    assert _one(spark, "the dog", stop) == pytest.approx(0.5)
    assert _one(spark, "ab!?", textfns.punct_ratio) == pytest.approx(0.5)
    assert _one(spark, "", textfns.punct_ratio) == 0.0
    assert _one(spark, "ab abcd", mwl) == pytest.approx(3.0)


def test_quality_bounds(spark):
    v = _one(spark, "the a of and to " * 30, _quality)
    assert 0.0 <= v <= 1.0
    assert _one(spark, "", _quality) <= 0.4


def test_lang_id(spark):
    assert _one(spark, "the cat of the house and a dog", _lang_id) == "en"
    assert _one(spark, "el perro de la casa y que", _lang_id) == "es"
    assert _one(spark, "xyzzy plugh", _lang_id) == "und"
    # tie (de 'die' vs fr 'la' one hit each) → und
    assert _one(spark, "die la", _lang_id) == "und"


def test_fingerprint_bag_of_words_collision(spark):
    df = spark.createDataFrame(
        [(1, "b a c a"), (2, "A b C c"), (3, "a b d")], ["doc_id", "text"]
    )
    fps = {
        r.doc_id: r.fp
        for r in df.select(
            "doc_id", textfns.fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    assert fps[1] == fps[2]  # same lowercase word bag
    assert fps[1] != fps[3]


def test_rolling_hash_deterministic(spark):
    v1 = _one(spark, "hello world", textfns.rolling_hash)
    # reference value computed in plain Python
    expect = 0
    for ch in "hello world":
        expect = (expect * 31 + ord(ch)) % 1_000_000_007
    assert v1 == expect


def test_repetition_metrics_hand_computed(spark):
    import math

    docs = spark.createDataFrame(
        [
            (1, "a a a a"),          # one word: top_word 1.0, bigram "a a" x3
            (2, "a b c d"),          # all distinct
            (3, "x y x y x"),        # alternating
            (4, "solo"),             # <2 words -> excluded
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textfns.repetition_metrics(docs).collect()}
    assert set(out) == {1, 2, 3}

    r1 = out[1]
    assert r1.n_words == 4
    assert r1.top_word_frac == 1.0
    assert r1.top_bigram_frac == 1.0
    assert r1.word_entropy == 0.0  # -1*ln(1)
    assert r1.is_repetitive

    r2 = out[2]
    assert r2.top_word_frac == 0.25
    assert r2.top_bigram_frac == pytest.approx(1 / 3, abs=1e-6)
    assert r2.word_entropy == pytest.approx(math.log(4), abs=1e-6)
    assert not r2.is_repetitive

    r3 = out[3]  # x:3/5, y:2/5; bigrams: "x y" x2, "y x" x2 of 4
    assert r3.top_word_frac == 0.6
    assert r3.top_bigram_frac == 0.5
    expected_h = -(0.6 * math.log(0.6) + 0.4 * math.log(0.4))
    assert r3.word_entropy == pytest.approx(expected_h, abs=1e-6)
    assert r3.is_repetitive


def test_pii_counts_and_redact(spark):
    rows = [
        (1, "mail alice.b-1@sub.example.org and bob@x.io today"),
        (2, "call +1 555-310-0042 or +44 203-555-1234 now"),
        (3, "host 10.1.0.255 gateway 192.168.0.1"),
        (4, "clean text with no personal data at all"),
        (5, "mixed alice@example.com at 10.0.0.1 call +1 555-310-0042"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    counts = textfns.pii_counts(F.col("t"))
    out = {r["id"]: r for r in df.select(
        "id",
        *[c.alias(f"n_{t}") for t, c in counts.items()],
        textfns.pii_redact(F.col("t")).alias("red"),
    ).collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (2, 0, 0)
    assert out[1].red == "mail [EMAIL] and [EMAIL] today"
    assert (out[2].n_email, out[2].n_phone, out[2].n_ipv4) == (0, 2, 0)
    assert out[2].red == "call [PHONE] or [PHONE] now"
    assert (out[3].n_email, out[3].n_phone, out[3].n_ipv4) == (0, 0, 2)
    assert out[3].red == "host [IPV4] gateway [IPV4]"
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4) == (0, 0, 0)
    assert out[4].red == rows[3][1]  # redaction is a no-op on clean text
    assert (out[5].n_email, out[5].n_phone, out[5].n_ipv4) == (1, 1, 1)
    assert out[5].red == "mixed [EMAIL] at [IPV4] call [PHONE]"


def test_classifier_logit_hand_computed(spark):
    # "the cat sat" -> toks 3, stop hits {the} 1/3, punct 0, mwl 9/3=3
    t = "the cat sat"
    w = textfns.QUALITY_CLF
    expected = (w["bias"] + w["len_score"] * (3 / 100.0)
                + w["stop_ratio"] * (1 / 3) + w["punct_ratio"] * 0.0
                + w["mean_word_len"] * (3.0 / 10.0))
    df = spark.createDataFrame([(t,)], ["text"])
    got = df.select(
        textfns.classifier_logit_from(
            textfns.tokens(F.col("text")),
            textfns.tokens(F.lower(F.col("text"))),
            F.col("text")).alias("v")).first().v
    assert got == pytest.approx(expected, abs=1e-12)


class TestNormalizeText:
    def _norm(self, spark, s):
        from dirt_hadoop_similarity_spark.functions import textfns

        df = spark.createDataFrame([(s,)], ["text"])
        return df.select(
            textfns.normalize_text(F.col("text")).alias("n")).first()["n"]

    def test_crlf_controls_runs_and_trim(self, spark):
        messy = " \tHello\r\nworld\x00\x07 --  spaced\t\tout \n\n\n\n tail \n"
        got = self._norm(spark, messy)
        assert got == "Hello\nworld -- spaced out \n\n tail"

    def test_clean_text_is_noop(self, spark):
        clean = "already clean single spaced text"
        assert self._norm(spark, clean) == clean

    def test_idempotent(self, spark):
        from dirt_hadoop_similarity_spark.functions import textfns

        rows = [("a\r\n\x01b   c\n\n\n\nd ",), ("  x\ty  ",), ("",)]
        df = spark.createDataFrame(rows, ["text"])
        once = df.select(textfns.normalize_text(F.col("text")).alias("n"))
        twice = once.select(textfns.normalize_text(F.col("n")).alias("n"))
        assert [r["n"] for r in once.collect()] == \
               [r["n"] for r in twice.collect()]

    def test_dedup_keys_agree_after_normalization(self, spark):
        # the motivating property: byte-different duplicates hash equal
        # after normalization
        from dirt_hadoop_similarity_spark.functions import textfns

        rows = [(1, "the quick\r\nbrown  fox "), (2, " the quick\nbrown fox")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        hashes = {r["doc_id"]: r["h"] for r in df.select(
            "doc_id",
            F.md5(textfns.normalize_text(F.col("text"))).alias("h")).collect()}
        assert hashes[1] == hashes[2]
