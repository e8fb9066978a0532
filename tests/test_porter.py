"""Porter stemmer parity with the reference engine's stemmer.

tests/data/porter_java_vocab.tsv is a behavior table generated by running
the reference's Java PorterStemmer (DirtDriver.java:106-371, the classic
public-domain tartarus implementation) over a 347-word vocabulary that
exercises every rule group plus the real test-set/corpus words.
"""

import os

import pytest

from dirt_hadoop_similarity_spark.functions.porter import porter_stem

DATA = os.path.join(os.path.dirname(__file__), "data", "porter_java_vocab.tsv")


def _vocab():
    with open(DATA) as f:
        for line in f:
            word, expect = line.rstrip("\n").split("\t")
            yield word, expect


def test_full_vocab_parity():
    mismatches = [
        (w, expect, porter_stem(w)) for w, expect in _vocab() if porter_stem(w) != expect
    ]
    assert mismatches == []


@pytest.mark.parametrize(
    "word,expect",
    [
        ("caresses", "caress"),
        ("ponies", "poni"),
        ("cause", "caus"),
        ("accompany", "accompani"),
        ("dying", "dy"),
        ("agreed", "agre"),
        ("feed", "feed"),
        ("relational", "relat"),
        ("generalization", "gener"),
        ("oscillators", "oscil"),
        ("be", "be"),       # length <= 2 unchanged
        ("", ""),
    ],
)
def test_known_stems(word, expect):
    assert porter_stem(word) == expect


def test_none_returns_empty():
    assert porter_stem(None) == ""
