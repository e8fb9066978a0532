"""Text-analysis functions for training-data pipelines.

All native Spark SQL expressions (codegen-friendly, no Python in the hot
path): token counting, quality scoring, language-ID heuristic, document
fingerprinting.  Each has an exact DuckDB-SQL rendering used by the
correctness oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language marker-word lists for the n-gram/stopword heuristic;
# deterministic and SQL-renderable (the goal is the *operator shape* —
# swap in real profiles for production)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "y", "que"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "la", "et", "les", "des"),
    "zh": ("de", "shi", "le", "bu", "wo"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")


def tokens(text: Column) -> Column:
    """Whitespace tokens with empties removed."""
    return F.filter(F.split(text, " "), lambda w: w != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: splits on word boundaries AND every 4
    characters inside long words — a cheap, deterministic stand-in for a
    BPE tokenizer's token count (useful for budget estimates).

    Pattern avoids lookahead (RE2-compatible → identical in DuckDB):
    a space is inserted after EVERY 4 word chars; the trailing empty
    token a multiple-of-4 word produces is dropped by the filter."""
    return F.size(
        F.filter(
            F.split(
                F.regexp_replace(text, "(\\w{4})", "$1 "), " "
            ),
            lambda w: w != "",
        )
    ).cast("long")


def stopword_ratio_from(ltoks: Column) -> Column:
    """Stopword ratio over a PRE-TOKENIZED lowercase token array.

    The ``*_from`` variants exist because HOF expressions (filter/
    transform/aggregate) are interpreted, not codegen'd, so Spark's
    subexpression elimination does not dedupe repeated tokenizations —
    a caller combining several text metrics should tokenize ONCE into a
    materialized column and feed it to these (see curation.annotate)."""
    hits = F.size(F.filter(ltoks, lambda w: w.isin(*STOPWORDS)))
    return F.when(
        F.size(ltoks) > 0, hits.cast("double") / F.size(ltoks)
    ).otherwise(0.0)


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, "[^A-Za-z0-9\\s]", "")
    return F.when(
        F.length(text) > 0,
        (F.length(text) - F.length(stripped)).cast("double") / F.length(text),
    ).otherwise(0.0)


def mean_word_length_from(toks: Column) -> Column:
    total = F.aggregate(
        F.transform(toks, lambda w: F.length(w)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return F.when(
        F.size(toks) > 0, total.cast("double") / F.size(toks)
    ).otherwise(0.0)


def quality_score_from(toks: Column, ltoks: Column, text: Column) -> Column:
    """Composite quality heuristic in [0, 1] over pre-tokenized arrays
    (see stopword_ratio_from for why): rewards mid-length documents with
    low punctuation noise and a natural stopword rate.  The exact formula
    is arbitrary by design — the operator contract is determinism.  Only
    punct_ratio still touches the raw text."""
    n_tok = F.size(toks).cast("double")
    length_term = F.least(n_tok / 100.0, F.lit(1.0))
    punct_term = 1.0 - F.least(punct_ratio(text) * 5.0, F.lit(1.0))
    stop_term = F.least(stopword_ratio_from(ltoks) * 4.0, F.lit(1.0))
    return F.round((length_term + punct_term + stop_term) / 3.0, 6)


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    # single-arg lambda built via closure: a two-arg lambda (even with a
    # default) makes PySpark bind the HOF's (element, index) form
    def pred(w):
        return w.isin(*markers)

    return F.size(F.filter(toks, pred))


def lang_id_from_scores(scores: dict[str, "Column"]) -> Column:
    """Language-ID argmax over per-language marker-hit counts
    (``_marker_hits`` per :data:`LANG_MARKERS` entry).  Pass BOUND
    columns: each score sits at ~2(L-1) comparison sites, so an unbound
    HOF expression would re-run at every one.  A language wins iff its
    count is strictly greater than every other's and > 0; ties and
    zero-hit docs are 'und'."""
    langs = list(scores)
    result = F.lit("und")
    # build nested WHEN: lang wins iff its count > all others and > 0
    for lang in langs:
        cond = scores[lang] > 0
        for other in langs:
            if other != lang:
                cond = cond & (scores[lang] > scores[other])
        result = F.when(cond, F.lit(lang)).otherwise(result)
    return result


def fingerprint(text: Column) -> Column:
    """Classic 'fingerprint' canonicalization: lowercase, split, dedupe,
    sort, rejoin, md5 — two documents with the same bag of words collide,
    which is exactly the clustering key cheap near-dup passes use."""
    canon = F.array_join(
        F.array_sort(F.array_distinct(tokens(F.lower(text)))), " "
    )
    return F.md5(canon)


def rolling_hash(text: Column, modulus: int = 1_000_000_007, base: int = 31) -> Column:
    """Polynomial rolling hash over characters (h = h*base + code mod m)
    — the streaming-friendly fingerprint primitive (Rabin-Karp style)."""
    chars = F.split(text, "")
    return F.aggregate(
        F.filter(chars, lambda c: c != ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * base + F.ascii(c)) % modulus,
    )


def repetition_metrics(docs, text_col: str = "text",
                       id_col: str = "doc_id",
                       top_word_max: float = 0.3,
                       top_bigram_max: float = 0.2):
    """Gopher-style repetition quality metrics per document: top-word
    fraction, top-bigram fraction, word-distribution entropy, and the
    combined ``is_repetitive`` flag (Rae et al. 2021 §A1.1's
    "repetition signals", word-level rendering).

    Two explode→partial-agg passes keyed by document (words, bigrams)
    joined back on the id — every aggregation map-side combines, no
    corpus-wide state, so the shuffle volume is the per-doc distinct
    token mass, not corpus mass.  Documents with fewer than 2 words are
    excluded (bigram fraction undefined).
    """
    # tokenize ONCE (HOFs are interpreted — no subexpression elimination)
    base = (
        docs.select(F.col(id_col), tokens(F.col(text_col)).alias("t"))
        .select(id_col, "t", F.size("t").alias("n_words"))
        .filter(F.col("n_words") >= 2)
    )

    wc = (
        base.select(id_col, "n_words", F.explode("t").alias("word"))
        .groupBy(id_col, "n_words", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = F.col("c") / F.col("n_words")
    wstats = wc.groupBy(id_col, "n_words").agg(
        F.max("c").alias("top_w"),
        (-F.sum(p * F.log(p))).alias("entropy"),
    )

    bigrams = F.expr(
        "transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))"
    )
    bstats = (
        base.select(id_col, F.explode(bigrams).alias("bg"))
        .groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_bg"))
    )

    top_word_frac = F.col("top_w") / F.col("n_words")
    top_bigram_frac = F.col("top_bg") / (F.col("n_words") - 1)
    # a high fraction only signals repetition if the top item actually
    # repeats — short fully-distinct docs have large 1/n fractions
    return wstats.join(bstats, id_col).select(
        id_col,
        F.col("n_words").cast("long").alias("n_words"),
        F.round(top_word_frac, 6).alias("top_word_frac"),
        F.round(top_bigram_frac, 6).alias("top_bigram_frac"),
        F.round("entropy", 6).alias("word_entropy"),
        (((top_bigram_frac >= top_bigram_max) & (F.col("top_bg") >= 2))
         | ((top_word_frac >= top_word_max) & (F.col("top_w") >= 2))
         ).alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 interpret identically
# (no lookahead/backrefs), so the DuckDB oracle runs the SAME pattern.
# Ordered: redaction applies top-down, and earlier replacements must not
# leave text a later pattern could re-match (emails carry dots but the
# [EMAIL] token has none, etc.).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+\d{1,2}[- ]\d{3}[- ]\d{3}[- ]\d{4}",
    "ipv4": r"\b\d{1,3}(\.\d{1,3}){3}\b",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Non-overlapping match count per PII type — all `regexp_count`,
    one codegen'd projection, no shuffle."""
    return {t: F.regexp_count(text, F.lit(p)) for t, p in PII_PATTERNS.items()}


def pii_redact(text: Column) -> Column:
    """Replace every PII span with its `[TYPE]` token.  A chain of
    `regexp_replace` stays a single narrow projection, so redaction at
    100 TB is a map-only pass fused into whatever scan feeds it."""
    out = text
    for t, p in PII_PATTERNS.items():
        out = F.regexp_replace(out, p, f"[{t.upper()}]")
    return out


# ---------------------------------------------------------------------------
# model-based quality filtering (linear classifier)
# ---------------------------------------------------------------------------

# Plan-time weights standing in for a trained fasttext/LR quality model
# (the CCNet-style "model filter" stage).  The contract is the operator
# shape — a broadcast-free linear scorer fused into the scan projection —
# not these particular values; swap in trained weights for production.
QUALITY_CLF = {
    "bias": -1.2,
    "len_score": 1.6,     # least(n_tokens/100, 1)
    "stop_ratio": 2.2,
    "punct_ratio": -3.0,
    "mean_word_len": 0.8,  # mean_word_len / 10
}


def classifier_logit_from(toks: Column, ltoks: Column, text: Column,
                          weights: dict[str, float] | None = None) -> Column:
    """Linear quality-model logit.  Deliberately NO sigmoid: +, *, /
    are correctly-rounded IEEE ops so the logit is bit-identical on any
    engine, while exp() differs between libms — monotone, so thresholds
    translate directly (sigmoid(0) = 0.5 <-> logit 0)."""
    w = QUALITY_CLF if weights is None else weights
    n_tok = F.size(toks).cast("double")
    return (
        F.lit(w["bias"])
        + w["len_score"] * F.least(n_tok / 100.0, F.lit(1.0))
        + w["stop_ratio"] * stopword_ratio_from(ltoks)
        + w["punct_ratio"] * punct_ratio(text)
        + w["mean_word_len"] * (mean_word_length_from(toks) / 10.0)
    )


# ---------------------------------------------------------------------------
# text normalization (the pre-hash cleanup stage)
# ---------------------------------------------------------------------------

# Java-regex / RE2 common-subset patterns (same portability contract as
# PII_PATTERNS): control chars except \t and \n; runs of spaces/tabs;
# 3+ newlines; leading/trailing whitespace.
_NORM_STEPS = (
    ("\\r\\n?", "\n"),                       # CRLF / CR -> LF
    ("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),  # control chars
    ("[ \\t]+", " "),                        # whitespace runs -> one space
    ("\\n{3,}", "\n\n"),                     # paragraph gap cap
)


def normalize_text(text: Column) -> Column:
    """Canonical text normalization BEFORE hashing/dedup/tokenization:
    CRLF unification, control-char strip, whitespace-run collapse,
    paragraph-gap capping, trim.  Dedup keys computed on unnormalized
    text silently miss byte-level-different duplicates; run this first
    and every downstream md5/shingle/minhash agrees.

    A chain of `regexp_replace` — one narrow map-only projection fused
    into the scan, the same shape (and engine-portable regex subset) as
    :func:`pii_redact`.  ASCII-level by design: Unicode NFC needs an
    ICU pass (DuckDB `nfc_normalize`, a pandas UDF on the Spark side)
    and is deliberately out of this portable common subset.
    """
    out = text
    for p, r in _NORM_STEPS:
        out = F.regexp_replace(out, p, r)
    # trim via character-set btrim, not regex anchors: Java's `$` also
    # matches before a final line terminator where RE2's does not —
    # btrim(x, " \n") is unambiguous and identical in both engines
    return F.btrim(out, F.lit(" \n"))
