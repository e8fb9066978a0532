"""Biarc corpus ingest: raw text lines → typed, token-parsed DataFrame.

Reference semantics (all in /root/reference/src/main/java/com/dirt/DirtDriver.java):
  * line format ``head_word \\t ngram \\t total_count [\\t counts_by_year...]``;
    lines with fewer than 3 tab fields are dropped (DirtDriver.java:487-492);
  * an unparsable count falls back to 1 (DirtDriver.java:496-500);
  * each space-separated token of ``ngram`` is split on its LAST THREE
    slashes into (word, pos, dep, head) so words may contain ``/``; tokens
    with fewer than 3 slashes or a non-integer head are silently skipped
    (DirtDriver.java:527-552).

Everything here is native Spark SQL expressions (no Python UDFs): the
parse stays inside whole-stage codegen, filters/projections push down to
the text scan, and the token array remains a nested column — one row per
corpus line regardless of sentence length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# array<struct> of per-sentence tokens; head is the 1-based parent pointer
# (0 = root) exactly as annotated in the corpus.
TOKENS_TYPE = "array<struct<word:string,pos:string,dep:string,head:int>>"

# Splits one raw token on its last three '/' via split + slice arithmetic:
# word keeps any embedded slashes, pos/dep/head come from the tail.
# Tokens lacking 3 slashes (size < 4) or a non-integer head are dropped by
# the trailing filter — matching the reference's skip-on-parse-failure.
#
# SPLIT-ONCE shape: the inner transform materializes each token's split
# array ONE time, and every downstream lambda references the bound array
# value.  Embedding `split(s, '/')` at each use site re-ran the split
# 5-6x per token — HOF lambdas sit outside codegen subexpression
# elimination (the round-12 shingle-fix class in constant-factor form;
# measured 0.86x on a parse-dominated 1M-line corpus, bit-identical).
# An empty token splits to [''] (size 1), so size >= 4 alone drops it —
# the separate s != '' test the per-use-site shape needed is subsumed.
_TOKENS_EXPR = """
filter(
  transform(
    filter(
      transform(split(ngram, ' '), s -> split(s, '/')),
      a -> size(a) >= 4),
    a -> named_struct(
      'word', array_join(slice(a, 1, size(a) - 3), '/'),
      'pos',  element_at(a, -3),
      'dep',  element_at(a, -2),
      'head', try_cast(element_at(a, -1) AS int))),
  t -> t.head IS NOT NULL)
"""


def parse_biarc_lines(lines: DataFrame) -> DataFrame:
    """S1/P1: raw text lines (a ``value`` column, e.g. ``spark.read.text``)
    → ``(head_word, ngram, n)``; malformed lines dropped, unparsable
    counts → 1."""
    # F.get (not []): null-safe on short arrays.  Under ANSI mode p[i]
    # throws on out-of-bounds, and optimizer rules (e.g. local-relation
    # folding) may evaluate the projection before the size() guard filter.
    # Trailing tabs are stripped first: Java's String.split("\t") drops
    # trailing empty fields, so 'head\tngram\t' has length 2 there and is
    # rejected — F.split keeps trailing empties, which would wrongly
    # accept the line with a defaulted count (DirtDriver.java:487-492).
    parts = F.split(F.regexp_replace(F.col("value"), "\t+$", ""), "\t")
    return (
        lines.select(parts.alias("p"))
        .filter(F.size("p") >= 3)
        .select(
            F.get("p", 0).alias("head_word"),
            F.get("p", 1).alias("ngram"),
            F.coalesce(F.get("p", 2).try_cast("long"), F.lit(1)).alias("n"),
        )
    )


def with_tokens(biarcs: DataFrame) -> DataFrame:
    """P2: add a ``tokens`` array<struct> column parsed from ``ngram``.

    Rows whose ngram yields zero parseable tokens are dropped
    (DirtDriver.java:502-504 returns early on an empty token list).
    """
    return biarcs.withColumn("tokens", F.expr(_TOKENS_EXPR)).filter(
        F.size("tokens") > 0
    )
