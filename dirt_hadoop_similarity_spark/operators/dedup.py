"""Deduplication operators for large-scale text corpora.

Five families, each designed for the 100 TB regime:

  * exact          — md5 groupBy; shuffle keyed on a 128-bit digest, so
                     partial aggregation collapses duplicates map-side;
  * minhash + LSH  — shingle → k minhashes → b bands; only band-equal
                     candidates are compared, so the self-join is on
                     band buckets, never all-pairs;
  * simhash        — 64 tokens-weighted sign bits → near-dup by Hamming
                     distance on a single BIGINT;
  * n-gram Jaccard — exact verification (used downstream of LSH);
  * embedding cosine — see operators/similarity.py.

Portability note: every hash here derives from md5 (via conv of the
leading 15 hex chars to a 60-bit integer) rather than Spark's xxhash64,
so the DuckDB oracles can compute bit-identical signatures — the
correctness gate then validates real signatures, not just row counts.
The MinHash family computes only TWO md5 base hashes per shingle and
derives the rest affinely (see ``minhash_signatures``); for production
the base pair can swap to ``xxhash64(col, lit(seed))`` without changing
any shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dirt_hadoop_similarity_spark.operators._tracked_cache import CacheTracker

#: tracked caches (the textsim release_caches contract): the near-dup
#: operators cache signature/shingle relations their returned lazy
#: plans still read.  Long-lived sessions call :func:`release_caches`
#: after materializing the consumers.
_CACHES = CacheTracker()


def release_caches() -> int:
    """Unpersist every cached relation this module has created since
    the last release (materialize consumers first).  Returns the
    number released."""
    return _CACHES.release()


def hash60(col, seed: int | None = None):
    """Deterministic 60-bit integer hash of a string column, computable
    identically in DuckDB: int(md5(seed || s)[:15], 16)."""
    s = F.concat(F.lit(f"{seed}|"), col) if seed is not None else col
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: one row per duplicated text, with the
    keeper (min id) and the duplicate count."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def distinct_by_text(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct text — the dedup pass a
    training pipeline runs before anything else. Window-free: an
    aggregate + semi-join keeps the plan to two shuffles on small keys."""
    keepers = (
        docs.groupBy(text_col).agg(F.min(id_col).alias(id_col))
    )
    return docs.join(keepers, [text_col, id_col], "left_semi")


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Built with native sequence/transform/slice — no UDF, stays in
    codegen. Documents shorter than n words yield their full token join
    as a single shingle (so no document silently disappears).

    The token array is BOUND to a projected column before the shingle
    ``transform``: a lambda capturing the raw ``split(text)`` expression
    re-tokenizes the document once per shingle position (subexpression
    elimination does not reach inside HOF lambdas) — O(L²) per document
    in document length.  Same fix and measurement as
    textsim.shingle_tf; the projection survives CollapseProject via the
    multi-reference guard (pinned in tests/test_dedup.py).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    bound = F.col("_toks")
    k = F.greatest(F.size(bound) - (n - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.array_join(F.slice(bound, i, n), " "),
    )
    return (
        # NULL or ZERO-TOKEN text -> NO shingles: without this filter a
        # null-text doc flows through as transform(NULL) -> [NULL] ->
        # all-NULL minhash signature, and concat_ws SKIPS nulls, so
        # every null-text doc lands in band key "" and pairs with every
        # other one; an empty/whitespace-only doc likewise shingles to
        # [""] and all empty docs pair as jaccard-1.0 "near-dups".  A
        # doc with no tokens is in no near-dup relation by definition
        # (exact dedup already clusters identical empties).  The
        # predicates are on text, not _toks: filtering the projected
        # token array re-inlines split() into the pushed-down predicate
        # — doubling per-row tokenization — where isnotnull + trim<>''
        # evaluate without re-splitting (tokens are single-space splits
        # with "" dropped, so zero tokens <=> trim(text) = '').
        docs.filter(
            F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != "")
        )
        .select(F.col(id_col), toks.alias("_toks"))
        .select(F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle"))
    )


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

HASH60_MASK = (1 << 60) - 1


def minhash_signatures(shingles: DataFrame, num_hashes: int = 8,
                       id_col: str = "doc_id") -> DataFrame:
    """(id, h0..h{k-1}) minhash signature columns.

    Double hashing (Kirsch & Mitzenmacher 2006; the datasketch-style
    affine family): only TWO md5-derived base hashes are computed per
    shingle, and the k-th hash is ``(h1 + k·h2) mod 2^60`` — exact
    int64 in both engines (max value 8·(2^60−1) < 2^63).  At 100 TB
    the per-shingle hash work is THE map-side cost of MinHash; this
    cuts it 4× for k=8 (and k/2× in general) with the standard
    two-point-independence trade-off.  ``h0 == h1`` (the k=0 affine).

    One aggregation: shuffle is keyed on the doc id, signature width
    is constant.
    """
    hashed = shingles.select(
        F.col(id_col),
        hash60(F.col("shingle"), seed=0).alias("_h1"),
        hash60(F.col("shingle"), seed=1).alias("_h2"),
    )
    aggs = [
        F.min(
            (F.col("_h1") + F.lit(k) * F.col("_h2"))
            .bitwiseAND(F.lit(HASH60_MASK))
        ).alias(f"h{k}")
        for k in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _banded_with_sigs(signatures: DataFrame, bands: int, rows_per_band: int,
                      id_col: str) -> DataFrame:
    """Explode a signature relation to (id, h0..hk, band, key) — the band
    rows CARRY the signature so est-Jaccard falls out of the band join
    without a join back to the signature table."""
    num_hashes = bands * rows_per_band
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ":",
                    *[F.col(f"h{b * rows_per_band + r}").cast("string")
                      for r in range(rows_per_band)],
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    return signatures.select(
        F.col(id_col), *[f"h{k}" for k in range(num_hashes)],
        F.explode(band_structs).alias("bk"),
    ).select(id_col, *[f"h{k}" for k in range(num_hashes)], "bk.band", "bk.key")


def signature_index(docs: DataFrame, n: int = 3, num_hashes: int = 8,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The persistable dedup index: one (id, h0..h{k-1}) row per doc.

    At scale this is written once (partitioned/bucketed however the
    corpus is) and only APPENDED to as batches arrive — incremental
    dedup never re-shingles the corpus."""
    return minhash_signatures(
        word_shingles(docs, n=n, text_col=text_col, id_col=id_col),
        num_hashes=num_hashes, id_col=id_col,
    )


def incremental_near_duplicates(corpus_sigs: DataFrame, batch_docs: DataFrame,
                                n: int = 3, num_hashes: int = 8,
                                bands: int = 4, rows_per_band: int = 2,
                                text_col: str = "text",
                                id_col: str = "doc_id") -> DataFrame:
    """Near-dups of a NEW batch against an EXISTING corpus signature
    index: (batch_id, corpus_id, n_bands_matched, est_jaccard).

    The daily-ingest shape: the corpus side is the precomputed
    ``signature_index`` (read, never recomputed); only the batch is
    shingled and hashed.  The batch's banded rows are broadcast —
    a day's ingest is tiny next to the corpus — so the corpus-side scan
    never shuffles; with the index additionally bucketed by (band, key)
    the probe is pure partition pruning at 100 TB.
    """
    rows_per_band = max(rows_per_band, 1)
    if bands * rows_per_band != num_hashes:
        raise ValueError(
            f"bands*rows_per_band ({bands}*{rows_per_band}) must equal "
            f"num_hashes ({num_hashes}): the banded rows carry exactly the "
            "signature columns the band layout consumes"
        )
    batch_sigs = signature_index(
        batch_docs, n=n, num_hashes=num_hashes, text_col=text_col,
        id_col=id_col,
    )
    cb = _banded_with_sigs(corpus_sigs, bands, rows_per_band, id_col).alias("a")
    bb = F.broadcast(
        _banded_with_sigs(batch_sigs, bands, rows_per_band, id_col)
    ).alias("b")
    matches = sum(
        F.when(F.col(f"a.h{k}") == F.col(f"b.h{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    )
    return (
        cb.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key")),
        )
        .groupBy(
            F.col(f"b.{id_col}").alias("batch_id"),
            F.col(f"a.{id_col}").alias("corpus_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_bands_matched"),
            F.round(
                F.max(matches) / F.lit(float(num_hashes)), 6
            ).alias("est_jaccard"),
        )
    )


def minhash_near_duplicates(docs: DataFrame, n: int = 3, num_hashes: int = 8,
                            bands: int = 4, rows_per_band: int = 2,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Full chain: shingle → minhash → LSH bands → candidate pairs with
    the estimated Jaccard (fraction of matching minhashes).

    Fused plan: the banded rows CARRY the full signature, so the
    estimated Jaccard falls out of the band join itself — no join back
    to the signature table, and the (expensive) shingle+hash stage is
    computed once per side instead of once per downstream use.  The
    signature relation is additionally cached: it is tiny (one row ×
    k columns per document) while its lineage re-tokenizes every
    document."""
    rows_per_band = max(rows_per_band, 1)
    if bands * rows_per_band != num_hashes:
        raise ValueError(
            f"bands*rows_per_band ({bands}*{rows_per_band}) must equal "
            f"num_hashes ({num_hashes}): the banded rows carry exactly the "
            "signature columns the band layout consumes"
        )
    sh = word_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    sig = _CACHES.track(
        minhash_signatures(sh, num_hashes=num_hashes, id_col=id_col)
    )

    banded = _banded_with_sigs(sig, bands, rows_per_band, id_col)
    a, b = banded.alias("a"), banded.alias("b")
    matches = sum(
        F.when(F.col(f"a.h{k}") == F.col(f"b.h{k}"), 1).otherwise(0)
        for k in range(num_hashes)
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_bands_matched"),
            F.round(
                F.max(matches) / F.lit(float(num_hashes)), 6
            ).alias("est_jaccard"),
        )
    )


def split_contamination(docs: DataFrame, splits: dict, *,
                        min_est: float = 0.5, n: int = 3,
                        num_hashes: int = 8, bands: int = 4,
                        rows_per_band: int = 2, text_col: str = "text",
                        id_col: str = "doc_id",
                        salt: str = "split") -> DataFrame:
    """Cross-split near-duplicate leakage matrix — the "is my test set
    contaminated by train?" audit every train/valid/test split needs
    before evaluation numbers mean anything.

    Composition of two verified primitives: the deterministic
    hash-bucket split (``sampling.assign_split``, so the audited split
    is bit-identical to the one the training pipeline ships) and the
    MinHash/LSH near-dup chain (:func:`minhash_near_duplicates`).
    Candidate pairs with estimated Jaccard ≥ ``min_est`` are joined to
    the split of each member and counted per unordered split pair.

    Output: (split_a, split_b, n_pairs, n_docs_b) with
    split_a ≤ split_b lexically; ``n_docs_b`` counts distinct
    greater-id members — the docs a min-id keeper policy would drop to
    clear the leak.  The (train, train) row is intra-split duplication
    (a dedup-quality signal); any (test, train) mass is evaluation
    leakage.

    Scale: candidates come from the band equi-join (never all-pairs);
    the split relation is a corpus-sized but 2-column (id, split)
    table equi-joined on the pair ids — at 100 TB the pair side is
    bounded by real duplication, so AQE will broadcast it when small;
    the output matrix is ≤ |splits|² rows.
    """
    # function-level import: sampling imports hash60 from this module
    from dirt_hadoop_similarity_spark.operators.sampling import assign_split

    pairs = minhash_near_duplicates(
        docs, n=n, num_hashes=num_hashes, bands=bands,
        rows_per_band=rows_per_band, text_col=text_col, id_col=id_col,
    ).filter(F.col("est_jaccard") >= min_est)
    sp = assign_split(docs.select(id_col), id_col, splits, salt=salt)
    pa = sp.select(F.col(id_col).alias("id_a"), F.col("split").alias("_sa"))
    pb = sp.select(F.col(id_col).alias("id_b"), F.col("split").alias("_sb"))
    return (
        pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .select(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
            "id_b",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("id_b").alias("n_docs_b"),
        )
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact)
# ---------------------------------------------------------------------------

def jaccard_pairs(docs: DataFrame, n: int = 3, min_jaccard: float = 0.0,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-Jaccard for all intersecting pairs.

    Shuffle is keyed on the shingle; pairs that share nothing never meet.
    At 100 TB this runs downstream of LSH candidates, not standalone —
    compose with a semi-join against the banded candidate pairs.
    """
    # the shingle relation feeds the self-join (both sides) and the size
    # table — cache so tokenization + dedup runs once, not three times
    sh = _CACHES.track(
        word_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a", "id_b", "n_common",
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def verified_near_duplicates(docs: DataFrame, n: int = 3, num_hashes: int = 8,
                             bands: int = 4, rows_per_band: int = 2,
                             min_jaccard: float = 0.0,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """The composed 100 TB near-dup path: banded-LSH candidate pairs,
    each verified with the EXACT shingle Jaccard — the two-stage recipe
    every production dedup runs (sketch to find, exact to decide).

    Scale shape: candidates come from the band equi-join (bounded by
    real duplication, never all-pairs), and the exact verification
    joins the candidate list against per-doc shingles ON THE DOC ID —
    shuffle volume is |candidates| + |shingles of candidate docs|, not
    the all-intersecting-pairs blowup :func:`jaccard_pairs` pays when
    run standalone.  Output: (id_a, id_b, est_jaccard, n_common,
    jaccard) for candidates with exact jaccard >= ``min_jaccard``.
    """
    # both relations feed multiple plan sites below (cand: the spine and
    # the common-count join; sh: two shingle sides + two size lookups) —
    # cache so the band self-join runs once and the corpus tokenizes
    # once, not four times (same reasoning as jaccard_pairs' cache)
    cand = minhash_near_duplicates(
        docs, n=n, num_hashes=num_hashes, bands=bands,
        rows_per_band=rows_per_band, text_col=text_col, id_col=id_col,
    ).select("id_a", "id_b", "est_jaccard")
    cand = _CACHES.track(cand)

    sh = _CACHES.track(
        word_shingles(docs, n=n, text_col=text_col, id_col=id_col)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.col("n_common") / (
        F.col("sz_a") + F.col("sz_b") - F.col("n_common")
    )
    return (
        cand.join(common, ["id_a", "id_b"], "left")
        .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
        .join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a", "id_b", "est_jaccard",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, bits: int = 16, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Per-document SimHash fingerprint over word tokens.

    bit_i(doc) = sign of Σ_tokens (bit i of hash(token) ? +1 : -1);
    fingerprint = Σ bit_i << i.  All native expressions: explode → one
    groupBy with ``bits`` conditional sums → bit assembly.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.filter(F.split(F.col(text_col), " "), lambda w: w != "")).alias("tok"),
    )
    h = hash60(F.col("tok"), seed=0)
    toks = toks.select(id_col, h.alias("th"))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    per_bit = toks.groupBy(id_col).agg(*aggs)
    fingerprint = sum(
        F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(bits)
    )
    return per_bit.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def threshold_sweep(pairs: DataFrame, num_hashes: int = 8,
                    id_col: str = "id_b") -> DataFrame:
    """Operating curve for the near-dup threshold: for every cut
    "at least k of ``num_hashes`` minhashes agree", how many candidate
    pairs survive and how many documents would be dropped (a doc drops
    at cut k if its BEST pair clears k).  The decision tool for picking
    ``near_dup_min_est_jaccard`` before a full run.

    est_jaccard values are m/num_hashes with num_hashes a power of two
    — dyadic, so ``round(est * num_hashes)`` recovers the integer m
    exactly.  Everything after the (already-bounded) pair relation is
    two ≤num_hashes-row bucket aggregates and a num_hashes-row spine
    join: the sweep itself adds NO per-threshold corpus or pair
    re-scans at any scale.
    """
    agree = F.round(F.col("est_jaccard") * num_hashes).cast("long")
    ag = pairs.select(F.col(id_col), agree.alias("m"))
    pair_b = ag.groupBy("m").agg(F.count(F.lit(1)).alias("n_pairs"))
    doc_b = (
        ag.groupBy(id_col).agg(F.max("m").alias("m"))
        .groupBy("m").agg(F.count(F.lit(1)).alias("n_docs"))
    )
    spine = pairs.sparkSession.range(1, num_hashes + 1).select(
        F.col("id").alias("k"))
    ps = (
        spine.join(pair_b, pair_b["m"] >= spine["k"], "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"))
    )
    ds = (
        spine.join(doc_b, doc_b["m"] >= spine["k"], "left")
        .groupBy("k")
        .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long")
             .alias("n_docs_dropped"))
    )
    return (
        ps.join(ds, "k")
        .select(
            F.col("k").alias("threshold_hashes"),
            F.round(F.col("k") / num_hashes, 6).alias("min_est_jaccard"),
            "n_pairs",
            "n_docs_dropped",
        )
    )


def duplicate_spans(docs: DataFrame, k: int = 5, min_occurrences: int = 2,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-substring duplication localized to spans — the token-gram
    rendering of suffix-array dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 §4.1):
    find every maximal run of tokens whose k-grams all occur at least
    ``min_occurrences`` times in the corpus (within-doc repeats count),
    so callers can TRIM duplicated passages instead of dropping whole
    documents.

    Plan: one explode pass emits (doc, position, md5(k-gram)); a
    digest-keyed count finds grams over the floor (partial-agg, so the
    shuffle is distinct-gram mass); an equi-join back marks duplicated
    positions; and a per-document gaps-and-islands window (position −
    row_number) merges consecutive positions into maximal spans.  Only
    16-byte digests ever shuffle — never gram text — and the window is
    keyed by document, never global.  Hot grams (boilerplate) skew the
    count groupBy; cap them upstream with ``textfns`` boilerplate
    filtering or salt the digest if a corpus is pathological.

    Output: (doc_id, span_start, span_end, n_grams) — token positions,
    0-based inclusive; span_end − span_start + 1 = n_grams + k − 1
    duplicated tokens.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be >= 2, got {min_occurrences}")
    from pyspark.sql import Window

    from dirt_hadoop_similarity_spark.functions.textfns import tokens

    base = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= k)
    grams = base.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}),"
                f" i -> md5(array_join(slice(t, i + 1, {k}), ' ')))"
            )
        ).alias("pos", "g"),
    )
    hot = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_occurrences)
        .select("g")
    )
    dup_pos = grams.join(hot, "g").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    return (
        dup_pos.withColumn("isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "isl")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + (k - 1)).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .drop("isl")
    )
