"""overlap.similarities against a plain-Python Lin computation, plus the
pair canonicalization and summation-order properties it relies on.

The oracle below shares no code with the package: it builds each path's
X and Y vectors as dicts and applies the reference's formula
(DirtDriver.java:736-978) pair by pair.
"""

import contextlib
import math
import random

import pytest

from dirt_hadoop_similarity_spark.operators import overlap
from dirt_hadoop_similarity_spark.operators.mi import sum_mi

MI_DDL = "path string, slot string, word string, mi double"
PAIRS_DDL = "p1 string, p2 string"


def lin_oracle(mi_rows, pairs):
    """``{(p1, p2): score}`` over canonical pairs that have a path with
    features; a self-pair scores 0.0, a zero denominator gives 0.0."""
    vec = {}
    for path, slot, word, mi in mi_rows:
        vec.setdefault(path, {"X": {}, "Y": {}})[slot][word] = mi
    empty = {"X": {}, "Y": {}}
    out = {}
    for a, b in pairs:
        if a is None or b is None:
            continue
        p1, p2 = min(a, b), max(a, b)
        if p1 not in vec and p2 not in vec:
            continue
        if p1 == p2:
            out[(p1, p2)] = 0.0
            continue
        v1, v2 = vec.get(p1, empty), vec.get(p2, empty)
        sims = []
        for slot in ("X", "Y"):
            shared = v1[slot].keys() & v2[slot].keys()
            num = sum(v1[slot][w] + v2[slot][w] for w in shared)
            den = sum(v1[slot].values()) + sum(v2[slot].values())
            sims.append(num / den if den > 0 else 0.0)
        out[(p1, p2)] = math.sqrt(sims[0] * sims[1])
    return out


def random_tables(seed):
    """MI rows and raw pairs with hubs, one-slot paths, self-pairs,
    unknown paths and reversed duplicates."""
    rng = random.Random(seed)
    words = [f"w{i:03d}" for i in range(120)]
    rows = []

    def add(path, slots, n):
        for slot in slots:
            for w in rng.sample(words, n):
                rows.append((path, slot, w, rng.uniform(0.002, 6.0)))

    hubs = [f"hub{i}" for i in range(3)]
    plain = [f"p{i:02d}" for i in range(30)]
    x_only = [f"xo{i}" for i in range(4)]
    y_only = [f"yo{i}" for i in range(4)]
    for h in hubs:
        add(h, "XY", 80)
    for p in plain:
        add(p, "XY", rng.randint(1, 25))
    for p in x_only:
        add(p, "X", rng.randint(1, 25))
    for p in y_only:
        add(p, "Y", rng.randint(1, 25))
    unknown = ["ghost0", "ghost1"]

    known = hubs + plain + x_only + y_only
    pairs = [(h, p) for h in hubs for p in known if p != h]
    pairs += [tuple(rng.sample(known, 2)) for _ in range(60)]
    pairs += [(p, p) for p in (hubs[0], plain[0], x_only[0])]
    pairs += [(plain[1], "ghost0"), ("ghost1", y_only[1]), ("ghost0", "ghost1")]
    pairs += [("ghost0", "ghost0")]
    pairs += [(b, a) for a, b in rng.sample(pairs, 40)]
    pairs += [(x_only[2], y_only[2]), (x_only[3], x_only[1])]
    rng.shuffle(pairs)
    return rows, pairs


def _scores(df):
    return {(r.p1, r.p2): r.score for r in df.collect()}


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_similarities_match_python_oracle(spark, seed):
    rows, pairs = random_tables(seed)
    mi_df = spark.createDataFrame(rows, MI_DDL)
    got = _scores(
        overlap.similarities(mi_df, spark.createDataFrame(pairs, PAIRS_DDL), sum_mi(mi_df))
    )
    want = lin_oracle(rows, pairs)
    assert set(got) == set(want)
    bad = {
        k: (got[k], want[k])
        for k in want
        if not math.isclose(got[k], want[k], rel_tol=1e-12)
    }
    assert not bad, bad
    # the table exercises every rule it is meant to
    assert sum(1 for s in want.values() if s > 0) > 50
    assert ("hub0", "hub0") in got and got[("hub0", "hub0")] == 0.0
    assert ("ghost0", "p01") in got and ("ghost0", "ghost1") not in got


def test_canonical_pairs_drops_null_sides(spark):
    pairs = spark.createDataFrame(
        [("a", None), (None, "b"), ("c", "d"), ("d", "c"), (None, None)], PAIRS_DDL
    )
    got = sorted(tuple(r) for r in overlap.canonical_pairs(pairs).collect())
    assert got == [("c", "d")]


@contextlib.contextmanager
def _partitions(spark, n):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], str(n))
        spark.conf.set(keys[1], "false")
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_scores_identical_across_partitionings(spark):
    # one hub sharing most of its 400 words per slot with 40 partners: the
    # numerator is a long sum whose order must not follow the partitioning
    rng = random.Random(7)
    words = [f"w{i:03d}" for i in range(400)]
    rows = [("hub", s, w, rng.uniform(0.002, 6.0)) for s in "XY" for w in words]
    partners = [f"q{i:02d}" for i in range(40)]
    for p in partners:
        rows += [(p, s, w, rng.uniform(0.002, 6.0))
                 for s in "XY" for w in rng.sample(words, 300)]
    sums = {}
    for path, slot, _, mi in rows:
        sums[(path, slot)] = sums.get((path, slot), 0.0) + mi
    pairs = [("hub", p) for p in partners]

    results = []
    for n in (1, 3, 7):
        with _partitions(spark, n):
            mi_df = spark.createDataFrame(rows, MI_DDL).repartition(n)
            sum_df = spark.createDataFrame(
                [(p, s, v) for (p, s), v in sums.items()],
                "path string, slot string, sum_mi double",
            )
            results.append(
                _scores(overlap.similarities(
                    mi_df, spark.createDataFrame(pairs, PAIRS_DDL), sum_df
                ))
            )
    assert len(results[0]) == 40
    assert results[0] == results[1] == results[2]
