"""Porter stemmer (Porter, 1980) — pure-Python, plus a pandas UDF wrapper.

Behavioral parity target: the reference engine's stemmer
(/root/reference/src/main/java/com/dirt/DirtDriver.java:106-371), which is
the classic public-domain tartarus.org Porter implementation.  Parity is
verified in tests/test_porter.py against a behavior table generated by
running that exact Java class over a vocabulary (tests/data/porter_java_vocab.tsv).

Notable semantics shared with the reference:
  * words of length <= 2 are returned unchanged;
  * the stemmer is case-sensitive — uppercase letters and any non-letter
    characters count as consonants (only lowercase ``aeiou`` are vowels,
    ``y`` is positional);
  * step2 uses the tartarus ``bli -> ble`` / ``logi -> log`` variants.

This module is plain string manipulation (no Spark imports at top level)
so it can be used inside pandas UDFs and in driver-side compilers alike.
"""

from __future__ import annotations

_VOWELS = frozenset("aeiou")


def _is_cons(word: str, i: int) -> bool:
    """True if word[i] acts as a consonant. 'y' is a consonant at
    position 0 or after a vowel; everything outside lowercase aeiou
    (including uppercase and punctuation) is a consonant."""
    ch = word[i]
    if ch in _VOWELS:
        return False
    if ch == "y":
        return True if i == 0 else not _is_cons(word, i - 1)
    return True


def _measure(stem: str) -> int:
    """Porter's m: number of VC sequences in the stem."""
    m = 0
    i = 0
    n = len(stem)
    # skip initial consonants
    while i < n and _is_cons(stem, i):
        i += 1
    while i < n:
        # in a vowel run
        while i < n and not _is_cons(stem, i):
            i += 1
        if i >= n:
            break
        m += 1
        while i < n and _is_cons(stem, i):
            i += 1
    return m


def _has_vowel(stem: str) -> bool:
    return any(not _is_cons(stem, i) for i in range(len(stem)))


def _ends_double_cons(word: str) -> bool:
    return len(word) >= 2 and word[-1] == word[-2] and _is_cons(word, len(word) - 1)


def _ends_cvc(word: str) -> bool:
    """*o condition: stem ends consonant-vowel-consonant and the final
    consonant is not w, x or y."""
    if len(word) < 3:
        return False
    n = len(word)
    if not (_is_cons(word, n - 1) and not _is_cons(word, n - 2) and _is_cons(word, n - 3)):
        return False
    return word[-1] not in "wxy"


def _step1a(w: str) -> str:
    if w.endswith("sses"):
        return w[:-2]
    if w.endswith("ies"):
        return w[:-3] + "i"
    if w.endswith("s") and not w.endswith("ss"):
        return w[:-1]
    return w


def _step1b(w: str) -> str:
    if w.endswith("eed"):
        return w[:-1] if _measure(w[:-3]) > 0 else w
    if w.endswith("ed") and _has_vowel(w[:-2]):
        w = w[:-2]
    elif w.endswith("ing") and _has_vowel(w[:-3]):
        w = w[:-3]
    else:
        return w
    # cleanup after -ed / -ing removal
    if w.endswith(("at", "bl", "iz")):
        return w + "e"
    if _ends_double_cons(w) and w[-1] not in "lsz":
        return w[:-1]
    if _measure(w) == 1 and _ends_cvc(w):
        return w + "e"
    return w


def _step1c(w: str) -> str:
    if w.endswith("y") and _has_vowel(w[:-1]):
        return w[:-1] + "i"
    return w


# (suffix, replacement) pairs applied when measure(stem) > 0; first match
# on the final letter's rule group wins (ordering matters: longest first
# within a shared suffix family, mirroring the original rule list).
_STEP2_RULES = (
    ("ational", "ate"), ("tional", "tion"),
    ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"),
    ("bli", "ble"), ("alli", "al"), ("entli", "ent"), ("eli", "e"), ("ousli", "ous"),
    ("ization", "ize"), ("ation", "ate"), ("ator", "ate"),
    ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"), ("ousness", "ous"),
    ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ("logi", "log"),
)

_STEP3_RULES = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"),
    ("iciti", "ic"), ("ical", "ic"), ("ful", ""), ("ness", ""),
)


def _apply_rules(w: str, rules: tuple[tuple[str, str], ...]) -> str:
    for suffix, repl in rules:
        if w.endswith(suffix):
            stem = w[: len(w) - len(suffix)]
            if _measure(stem) > 0:
                return stem + repl
            return w
    return w


_STEP4_SUFFIXES = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant",
    "ement", "ment", "ent", "ion", "ou", "ism", "ate", "iti",
    "ous", "ive", "ize",
)


def _step4(w: str) -> str:
    # longest-match over the deletion suffixes (order by length desc then
    # lexicographic keeps e.g. "ement" ahead of "ment" ahead of "ent")
    for suffix in sorted(_STEP4_SUFFIXES, key=len, reverse=True):
        if w.endswith(suffix):
            stem = w[: len(w) - len(suffix)]
            if suffix == "ion" and not stem.endswith(("s", "t")):
                continue
            if _measure(stem) > 1:
                return stem
            return w
    return w


def _step5(w: str) -> str:
    if w.endswith("e"):
        m = _measure(w[:-1])
        if m > 1 or (m == 1 and not _ends_cvc(w[:-1])):
            w = w[:-1]
    if w.endswith("ll") and _measure(w) > 1:
        w = w[:-1]
    return w


def porter_stem(word: str) -> str:
    """Stem a single word with the Porter algorithm.

    Memoized: corpus vocabularies are heavy-tailed, so in the extraction
    hot path almost every call is a cache hit (bounded LRU so a
    pathological vocabulary can't grow task memory unboundedly)."""
    if word is None:
        return ""
    if len(word) <= 2:
        return word
    return _stem_uncached(word)


from functools import lru_cache  # noqa: E402 — decorator used below


@lru_cache(maxsize=1 << 17)
def _stem_uncached(word: str) -> str:
    w = _step1a(word)
    w = _step1b(w)
    w = _step1c(w)
    w = _apply_rules(w, _STEP2_RULES)
    w = _apply_rules(w, _STEP3_RULES)
    w = _step4(w)
    w = _step5(w)
    return w
