"""Phrase → dependency-path compiler for the test-set predicate pairs.

Translates natural-language predicates like ``X cause Y`` /
``X cause by Y`` into the engine's path-string alphabet.

Reference: DirtDriver.java:768-824 (normative — it produced the pipeline)
with a known discrepancy in the offline evaluator
(analysis/evaluate_dirt.py:11-38): the evaluator renders passives with
``>agent:P:by`` where the Java pipeline emits ``>prep:P:by``, strips
X/Y anywhere in the phrase (not only at the ends), and has no aux-skip
or particle rule.  The Java dialect is the default; the eval dialect is
available via ``dialect="eval"`` for reproducing the published analysis.

Grammar (java dialect), after stripping leading ``X`` / trailing ``Y``
and an optional leading auxiliary:
    V               → N:<nsubj:V:stem(V):>dobj:N
    V prep          → N:<nsubj:V:stem(V):>prep:P:prep:>pobj:N
    … V by          → N:<nsubjpass:V:stem(V):>prep:P:by:>pobj:N   (passive)
    V particle prep → N:<nsubj:V:stem(V+particle):>prep:P:prep:>pobj:N
anything else → None (pair dropped).
"""

from __future__ import annotations

import re

from dirt_hadoop_similarity_spark.functions.porter import porter_stem
from dirt_hadoop_similarity_spark.operators.extraction import AUX_VERBS
from dirt_hadoop_similarity_spark.session import local_frame

PARTICLES = frozenset(("up", "down", "out", "in", "off", "on", "over", "through"))


def compile_phrase(
    phrase: str,
    dialect: str = "java",
    stem=porter_stem,
) -> str | None:
    """Compile one ``X … Y`` phrase to a path string, or None if the
    phrase doesn't fit the grammar.

    ``stem`` is injectable so callers can match outputs of pipeline
    variants that predate stemming (identity function).
    """
    if phrase is None:
        return None
    if dialect == "eval":
        inner = phrase.replace("X", "").replace("Y", "").strip()
    else:
        inner = re.sub(r"^X\s+", "", phrase)
        inner = re.sub(r"\s+Y$", "", inner).strip()
    if not inner:
        return None
    words = inner.split()

    if dialect == "eval":
        # evaluate_dirt.py:21-38 — no aux skip, no particles, agent passive
        if len(words) == 1:
            return f"N:<nsubj:V:{stem(words[0])}:>dobj:N"
        if len(words) == 2 and words[1] != "by":
            return f"N:<nsubj:V:{stem(words[0])}:>prep:P:{words[1]}:>pobj:N"
        if len(words) == 2 and words[1] == "by":
            return f"N:<nsubjpass:V:{stem(words[0])}:>agent:P:by:>pobj:N"
        return None

    # java dialect (DirtDriver.java:768-817)
    start = 1 if len(words) >= 2 and words[0].lower() in AUX_VERBS else 0
    length = len(words) - start
    if length <= 0:
        return None
    if length >= 2 and words[-1].lower() == "by":
        return f"N:<nsubjpass:V:{stem(words[-2])}:>prep:P:by:>pobj:N"
    if length == 1:
        return f"N:<nsubj:V:{stem(words[start])}:>dobj:N"
    if length == 2:
        prep = words[start + 1].lower()
        return f"N:<nsubj:V:{stem(words[start])}:>prep:P:{prep}:>pobj:N"
    if length == 3 and words[start + 1].lower() in PARTICLES:
        # verb+particle collapse with a composite stem (DirtDriver.java:808)
        composite = stem(words[start] + words[start + 1].lower())
        prep = words[start + 2].lower()
        return f"N:<nsubj:V:{composite}:>prep:P:{prep}:>pobj:N"
    return None


def compile_pair_file(
    path: str, label: int, dialect: str = "java", stem=porter_stem
) -> list[tuple[str, str, int]]:
    """Load a 2-column phrase-pair TSV and compile both sides; rows where
    either side fails to compile are dropped (DirtDriver.java:838-845).

    Returns driver-side tuples — test sets are a few thousand rows, the
    canonical broadcast side."""
    out: list[tuple[str, str, int]] = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            parts = line.rstrip("\n").split("\t")
            if len(parts) < 2:
                continue
            a = compile_phrase(parts[0], dialect=dialect, stem=stem)
            b = compile_phrase(parts[1], dialect=dialect, stem=stem)
            if a is not None and b is not None:
                out.append((a, b, label))
    return out


def testset_pairs_df(
    spark,
    positive_path: str,
    negative_path: str | None = None,
    dialect: str = "java",
    stem=porter_stem,
):
    """O5: union of positive/negative pair files as a local-relation
    DataFrame ``(p1, p2, label)``: broadcasting or collecting it runs no
    Spark job."""
    rows = compile_pair_file(positive_path, 1, dialect=dialect, stem=stem)
    if negative_path:
        rows += compile_pair_file(negative_path, 0, dialect=dialect, stem=stem)
    return local_frame(spark, rows, "p1 string, p2 string, label int")
