"""Seeded input generator for the DIRT job benchmark.

Every input the benchmark feeds the CLI comes from here: a biarc corpus in
the Google Syntactic N-Grams format (``head \\t ngram \\t count \\t
counts_by_year``) and a positive / negative phrase-pair file pair in the
reference's test-set grammar.  Generation is single-process and
single-threaded, driven by one ``random.Random(seed)``, so the same
(workload, seed) always yields the same bytes.

The corpus is built from verb synonym groups.  The verbs of one group share
a syntactic frame (active, ``prep``, passive ``by`` or particle + prep) and
share their argument distributions, so their dependency paths get similar
MI vectors and the positive pairs (same group) outscore the negative pairs
(different groups) — F1 sits well above zero.  A share of malformed lines
exercises every drop/fallback rule of the parser: fewer than 3 fields,
non-numeric counts, slashless tokens, non-integer heads, disconnected heads
and aux-only paths.

This module imports nothing from the package under test, so the benchmark
can make its inputs before the timed set-up imports it.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import os
import random

# Bump when the generator's output for a given spec changes, so cached
# corpora made by an older generator are never reused.
GEN_VERSION = 4

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z"]
_VOWELS = ["a", "e", "i", "o", "u"]
_CODAS = ["", "n", "r", "l", "m"]

PREPS = ("with", "from", "into", "against", "for", "on", "about", "to")
PARTICLES = ("up", "out", "off", "down")
VERB_PREPS = ("in", "at", "during", "near")
NOUN_PREPS = ("of", "under", "beside")
ADJECTIVES = ("big", "old", "new", "strange", "bright", "small", "quiet")
ADVERBS = ("quickly", "often", "rarely", "slowly")
PHRASE_AUX = ("can", "will", "may", "should")

# Workload specifications.  Every field goes into the input cache key.
#   lines       corpus lines
#   groups      verb synonym groups; verbs_per_group verbs in each
#   nouns       noun vocabulary size
#   topic       nouns in each group's own argument distribution, drawn
#               from the first `pool` nouns (a small pool makes groups
#               share arguments, so negatives score higher)
#   background  share of argument draws from the global noun distribution
#   zipf        Zipf exponent over groups (hub verbs) and nouns
#   long        True: 8-20 token trees with 6-7 nouns; False: one noun pair
#   pos / neg   positive / negative phrase-pair lines
#   hubs        negatives draw their first member from the top-`hubs`
#               groups (0 = any group)
#   malformed   share of malformed lines
WORKLOADS: dict[str, dict] = {
    "extract_long": dict(
        lines=8000, groups=40, verbs_per_group=3, nouns=3000, topic=80, pool=200,
        background=0.5, zipf=0.8, long=True, pos=200, neg=200, hubs=0,
        malformed=0.04,
    ),
    "score_hubs": dict(
        lines=8000, groups=100, verbs_per_group=4, nouns=6000, topic=150, pool=6000,
        background=0.3, zipf=0.9, long=False, pos=400, neg=1200, hubs=20,
        malformed=0.02,
    ),
}

# The fixed small corpus the cold set-up job runs on (its own seed, so
# set-up time does not depend on the workload seed).
WARMUP = dict(
    lines=2000, groups=8, verbs_per_group=3, nouns=200, topic=20, pool=200,
    background=0.3, zipf=0.8, long=True, pos=30, neg=30, hubs=0,
    malformed=0.04,
)
WARMUP_SEED = 0


def _word(i: int, onsets=_ONSETS, codas=_CODAS, syllables: int = 3) -> str:
    """Deterministic pronounceable word for index ``i``."""
    parts = []
    for _ in range(syllables):
        i, a = divmod(i, len(onsets))
        i, b = divmod(i, len(_VOWELS))
        i, c = divmod(i, len(codas))
        parts.append(onsets[a] + _VOWELS[b] + codas[c])
    return "".join(parts)


class _Zipf:
    """Sampler over ``range(n)`` with weight 1 / (rank + 1) ** s."""

    def __init__(self, n: int, s: float):
        self.cum = list(itertools.accumulate(1.0 / (k + 1) ** s for k in range(n)))

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


class _World:
    """Vocabulary, verb groups, frames and argument distributions."""

    def __init__(self, spec: dict, rng: random.Random):
        self.spec = spec
        # spread the indices so neighbouring nouns share no syllables
        self.nouns = [_word(i * 7919 + 1234) for i in range(spec["nouns"])]
        vpg = spec["verbs_per_group"]
        # verbs use a disjoint onset set, so no verb collides with a noun
        self.verbs = [
            [_word((g * vpg + k) * 31 + 7, onsets=["sk", "tr", "pl", "gr", "fl", "br", "kr"],
                   codas=["", "sk", "nt", "rt"], syllables=2)
             for k in range(vpg)]
            for g in range(spec["groups"])
        ]
        self.frames = []
        for g in range(spec["groups"]):
            kind = ("active", "prep", "passive", "particle")[g % 4]
            self.frames.append(
                (kind, rng.choice(PREPS), rng.choice(PARTICLES))
            )
        self.group_zipf = _Zipf(spec["groups"], spec["zipf"])
        self.noun_zipf = _Zipf(spec["nouns"], spec["zipf"])
        self.topic_zipf = _Zipf(spec["topic"], 1.0)
        # per group and slot: the nouns its verbs prefer
        self.topics = [
            (rng.sample(range(spec["pool"]), spec["topic"]),
             rng.sample(range(spec["pool"]), spec["topic"]))
            for _ in range(spec["groups"])
        ]

    def arg(self, rng: random.Random, group: int, slot: int) -> str:
        if rng.random() < self.spec["background"]:
            return self.nouns[self.noun_zipf.draw(rng)]
        return self.nouns[self.topics[group][slot][self.topic_zipf.draw(rng)]]

    def any_noun(self, rng: random.Random) -> str:
        return self.nouns[self.noun_zipf.draw(rng)]


class _Tok:
    __slots__ = ("word", "pos", "dep", "head")

    def __init__(self, word, pos, dep, head=None):
        self.word, self.pos, self.dep, self.head = word, pos, dep, head


def _noun_tok(word: str, dep: str, head, rng: random.Random) -> _Tok:
    if rng.random() < 0.3:
        return _Tok(word + "s", "NNS", dep, head)
    return _Tok(word, "NN", dep, head)


def _np(noun: _Tok, rng: random.Random, long: bool) -> list[_Tok]:
    """Noun phrase in surface order: optional det and adjective."""
    out = []
    if long and rng.random() < 0.35:
        out.append(_Tok("the", "DT", "det", noun))
    if long and rng.random() < 0.2:
        out.append(_Tok(rng.choice(ADJECTIVES), "JJ", "amod", noun))
    out.append(noun)
    return out


def _sentence(world: _World, rng: random.Random, long: bool) -> list[_Tok]:
    """One dependency tree in surface order (heads are _Tok references)."""
    g = world.group_zipf.draw(rng)
    verb = rng.choice(world.verbs[g])
    kind, prep, particle = world.frames[g]
    x = _noun_tok(world.arg(rng, g, 0), "nsubj", None, rng)
    y = _noun_tok(world.arg(rng, g, 1), "dobj", None, rng)
    if kind == "particle":
        verb = verb + particle
    v = _Tok(verb, "VBN" if kind == "passive" else "VBZ", "ROOT", 0)
    x.head = y.head = v

    # long trees: 4-5 extra nouns on conjunct and prepositional
    # attachments, so a sentence has 6-7 nouns and 15-21 noun pairs
    extra = rng.randint(4, 5) if long else 0
    conj = extra > 0 and rng.random() < 0.6
    noun_pps = min(extra - conj, rng.randint(0, 2))
    verb_pps = extra - conj - noun_pps

    subj = _np(x, rng, long)
    if conj:
        z = _noun_tok(world.any_noun(rng), "conj", x, rng)
        subj += [_Tok("and", "CC", "cc", x), z]
    pre_verb: list[_Tok] = []
    if kind == "passive":
        x.dep = "nsubjpass"
        pre_verb.append(_Tok("was", "VBD", "auxpass", v))
    elif long and rng.random() < 0.5:
        pre_verb.append(_Tok(rng.choice(("has", "will", "does")), "VBZ", "aux", v))
    if long and rng.random() < 0.3:
        pre_verb.append(_Tok(rng.choice(ADVERBS), "RB", "advmod", v))

    if kind == "active":
        obj = _np(y, rng, long)
    else:
        y.dep = "pobj"
        p = _Tok("by" if kind == "passive" else prep, "IN", "prep", v)
        y.head = p
        obj = [p] + _np(y, rng, long)
    tail: list[_Tok] = []
    # noun-attached PPs put the object noun's word inside paths
    for head, dep_count in ((y, noun_pps), (v, verb_pps)):
        preps = NOUN_PREPS if head is y else VERB_PREPS
        for _ in range(dep_count):
            p = _Tok(rng.choice(preps), "IN", "prep", head)
            w = _noun_tok(world.any_noun(rng), "pobj", p, rng)
            tail += [p] + _np(w, rng, long)
    return subj + pre_verb + [v] + obj + tail


def _render(tokens: list[_Tok]) -> list[str]:
    index = {id(t): i + 1 for i, t in enumerate(tokens)}
    out = []
    for t in tokens:
        head = t.head if isinstance(t.head, int) else index[id(t.head)]
        out.append(f"{t.word}/{t.pos}/{t.dep}/{head}")
    return out


def _count_field(rng: random.Random) -> str:
    return str(min(int(rng.paretovariate(1.3)), 500))


def _years(rng: random.Random, total: str) -> str:
    return f"{rng.randint(1900, 2008)},{total}"


def _malformed(world: _World, rng: random.Random, long: bool) -> str:
    """One line from the FIXTURES.md §1 malformed shares."""
    kind = rng.randrange(6)
    toks = _sentence(world, rng, long)
    head = next(t.word for t in toks if t.dep == "ROOT")
    rendered = _render(toks)
    count = _count_field(rng)
    if kind == 0:  # fewer than 3 fields (one variant via a trailing tab)
        return f"{head}\t{' '.join(rendered)}" + ("\t" if rng.random() < 0.5 else "")
    if kind == 1:  # non-numeric count -> weight 1
        return f"{head}\t{' '.join(rendered)}\t{rng.choice(('n/a', '12x', '?'))}"
    if kind == 2:  # slashless token and a non-integer head -> skipped tokens
        rendered.append("garbage")
        rendered.append(f"{rng.choice(ADVERBS)}/RB/advmod/{len(rendered)}x")
        return f"{head}\t{' '.join(rendered)}\t{count}"
    if kind == 3:  # disconnected head: a noun points outside the sentence
        nouns = [i for i, t in enumerate(toks) if t.pos.startswith("N")]
        i = rng.choice(nouns)
        word, pos, dep, _ = rendered[i].split("/")
        rendered[i] = f"{word}/{pos}/{dep}/{len(rendered) + 5}"
        return f"{head}\t{' '.join(rendered)}\t{count}"
    if kind == 4:  # aux-only path: copula root, no content verb
        x, y = world.any_noun(rng), world.any_noun(rng)
        return f"is\t{x}/NN/nsubj/2 is/VBZ/ROOT/0 {y}/NN/attr/2\t{count}"
    # kind 5: empty ngram (zero tokens) -> line dropped after parsing
    return f"{head}\t \t{count}"


def corpus_lines(spec: dict, seed: int) -> list[str]:
    rng = random.Random(f"corpus:{seed}")
    world = _World(spec, random.Random(f"world:{seed}"))
    long = spec["long"]
    out = []
    for _ in range(spec["lines"]):
        if rng.random() < spec["malformed"]:
            out.append(_malformed(world, rng, long))
            continue
        toks = _sentence(world, rng, long)
        head = next(t.word for t in toks if t.dep == "ROOT")
        count = _count_field(rng)
        line = f"{head}\t{' '.join(_render(toks))}\t{count}"
        if rng.random() < 0.5:
            line += "\t" + _years(rng, count)
        out.append(line)
    return out


def _phrase(world: _World, group: int, verb: str, rng: random.Random) -> str:
    """A phrase in the FIXTURES.md §2 grammar matching the group's frame."""
    kind, prep, particle = world.frames[group]
    aux = rng.choice(PHRASE_AUX) + " " if rng.random() < 0.25 else ""
    if kind == "active":
        return f"X {aux}{verb} Y"
    if kind == "prep":
        return f"X {aux}{verb} {prep} Y"
    if kind == "passive":
        return f"X {'is ' if rng.random() < 0.5 else ''}{verb} by Y"
    return f"X {verb} {particle} {prep} Y"


def _bad_phrase(rng: random.Random) -> str:
    # outside the grammar: compile_phrase returns None, the pair is dropped
    return "X " + " ".join(rng.sample(ADJECTIVES, 4)) + " Y"


def phrase_pairs(spec: dict, seed: int) -> tuple[list[str], list[str]]:
    """(positive lines, negative lines), each ``phrase1 \\t phrase2``."""
    rng = random.Random(f"pairs:{seed}")
    world = _World(spec, random.Random(f"world:{seed}"))
    hubs = spec["hubs"] or spec["groups"]
    hub_zipf = _Zipf(hubs, spec["zipf"])
    pos, neg = [], []
    for _ in range(spec["pos"]):
        g = world.group_zipf.draw(rng)
        a, b = rng.sample(world.verbs[g], 2)
        left, right = _phrase(world, g, a, rng), _phrase(world, g, b, rng)
        if rng.random() < 0.02:
            right = _bad_phrase(rng)
        pos.append(f"{left}\t{right}")
    for _ in range(spec["neg"]):
        g1 = hub_zipf.draw(rng)
        g2 = rng.randrange(spec["groups"] - 1)
        g2 += g2 >= g1
        a, b = rng.choice(world.verbs[g1]), rng.choice(world.verbs[g2])
        left, right = _phrase(world, g1, a, rng), _phrase(world, g2, b, rng)
        if rng.random() < 0.02:
            left = _bad_phrase(rng)
        neg.append(f"{left}\t{right}")
    return pos, neg


def cache_key(spec: dict, seed: int) -> str:
    blob = json.dumps({"v": GEN_VERSION, "spec": spec, "seed": seed}, sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def materialize(spec: dict, seed: int, root: str) -> dict:
    """Write corpus and phrase files under ``root/<cache key>/`` unless
    already there; returns their paths.  The key covers the generator
    version, every spec field and the seed, so a corpus is never reused
    under another size."""
    d = os.path.join(root, cache_key(spec, seed))
    paths = {
        "dir": d,
        "corpus": os.path.join(d, "corpus.txt"),
        "pos": os.path.join(d, "positive-preds.txt"),
        "neg": os.path.join(d, "negative-preds.txt"),
    }
    done = os.path.join(d, "DONE")
    if os.path.exists(done):
        return paths
    os.makedirs(d, exist_ok=True)
    files = {"corpus": corpus_lines(spec, seed)}
    files["pos"], files["neg"] = phrase_pairs(spec, seed)
    for name, lines in files.items():
        with open(paths[name], "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
    with open(done, "w") as f:
        f.write("ok\n")
    return paths
