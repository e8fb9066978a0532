"""Plain-Python reference for the DIRT job and the benchmark's output gate.

The reference recomputes, with no Spark, what the CLI must write: it parses
each corpus line with the reference's rules, extracts paths with the
package's per-line ``extraction.extract_paths``, counts, keeps PMI > 0.001
(natural log), scores the test-set pairs with Lin's geometric mean and
scans for the optimal-F1 threshold over pairs compiled by
``phrases.compile_phrase``.  Only those two per-line/per-phrase functions
are shared with the program; every aggregate, join, filter and scan is
independent of the Spark plans.

``check_outputs`` compares one CLI run's output directory against it:
``similarities.tsv`` order-insensitively at relative tolerance 1e-9
(score-0.0 rows included), ``metrics.json`` precision / recall / F1 and
pair count exactly, its threshold at the scores' 1e-9 tolerance, and the
row counts of ``mi.tsv``, ``sum_mi.tsv`` and ``pr_curve.csv``.
"""

from __future__ import annotations

import glob
import json
import math
import multiprocessing
import os
import re
from collections import defaultdict

MI_THRESHOLD = 0.001
REL_TOL = 1e-9
_INT = re.compile(r"[+-]?\d+")


def _to_int(s: str) -> int | None:
    s = s.strip()
    return int(s) if _INT.fullmatch(s) else None


def parse_line(line: str) -> tuple[list[dict], int] | None:
    """One raw line → (tokens, weight), or None when the line is dropped
    (fewer than 3 tab fields after stripping trailing tabs, or no
    parseable token)."""
    parts = line.rstrip("\t").split("\t")
    if len(parts) < 3:
        return None
    n = _to_int(parts[2])
    tokens = []
    for raw in parts[1].split(" "):
        a = raw.split("/")
        if len(a) < 4:
            continue
        head = _to_int(a[-1])
        if head is None:
            continue
        tokens.append(
            {"word": "/".join(a[:-3]), "pos": a[-3], "dep": a[-2], "head": head}
        )
    if not tokens:
        return None
    return tokens, (1 if n is None else n)


def _extract_chunk(lines: list[str]) -> tuple[dict, int, int]:
    """Parse and extract one slice of corpus lines (runs in a worker)."""
    from dirt_hadoop_similarity_spark.operators.extraction import extract_paths

    kept = paths_out = 0
    triples: dict[tuple[str, str, str], int] = defaultdict(int)
    memo: dict[str, list[tuple[str, str, str]]] = {}
    for line in lines:
        parsed = parse_line(line)
        if parsed is None:
            continue
        kept += 1
        tokens, n = parsed
        key = line.split("\t", 2)[1]
        paths = memo.get(key)
        if paths is None:
            paths = [(e["path"], e["x"], e["y"]) for e in extract_paths(tokens)]
            memo[key] = paths
        paths_out += len(paths)
        for path, x, y in paths:
            triples[(path, "X", x)] += n
            triples[(path, "Y", y)] += n
    return dict(triples), kept, paths_out


def _compile_pairs(pos: str, neg: str) -> tuple[list[tuple[str, str, int]], int]:
    """Compiled (p1, p2, label) rows in file order, and the line count."""
    from dirt_hadoop_similarity_spark.functions.phrases import compile_phrase

    lines = 0
    rows: list[tuple[str, str, int]] = []
    for path, label in ((pos, 1), (neg, 0)):
        with open(path, encoding="utf-8") as f:
            for line in f:
                lines += 1
                parts = line.rstrip("\n").split("\t")
                if len(parts) < 2:
                    continue
                a, b = compile_phrase(parts[0]), compile_phrase(parts[1])
                if a is not None and b is not None:
                    rows.append((a, b, label))
    return rows, lines


def compute(corpus: str, pos: str, neg: str, workers: int = 1) -> dict:
    """Everything the gate and the trace counters need, as plain data.

    Path extraction is spread over ``workers`` forked processes that
    import the package themselves; the parent process never imports it,
    so a benchmark can compute the reference before it times its own
    imports.  ``fork`` rather than ``spawn``: a spawn pool starts a
    resource-tracker process that outlives the pool."""
    with open(corpus, encoding="utf-8") as f:
        lines = [line.rstrip("\n") for line in f]
    lines_in = len(lines)
    step = -(-lines_in // workers) or 1
    chunks = [lines[i:i + step] for i in range(0, lines_in, step)]
    with multiprocessing.get_context("fork").Pool(workers) as pool:
        gold_job = pool.apply_async(_compile_pairs, (pos, neg))
        parts = pool.map(_extract_chunk, chunks)
        gold_rows, phrase_lines = gold_job.get()
    triples: dict[tuple[str, str, str], int] = defaultdict(int)
    lines_kept = paths_out = 0
    for part, kept, n_paths in parts:
        lines_kept += kept
        paths_out += n_paths
        for k, n in part.items():
            triples[k] += n

    sw: dict[tuple[str, str], int] = defaultdict(int)
    ps: dict[tuple[str, str], int] = defaultdict(int)
    total = 0
    for (path, slot, word), n in triples.items():
        sw[(slot, word)] += n
        ps[(path, slot)] += n
        total += n
    big_n = float(max(total, 1))

    # vec[path][slot] = {word: mi}
    vec: dict[str, dict[str, dict[str, float]]] = defaultdict(
        lambda: {"X": {}, "Y": {}}
    )
    mi_rows = 0
    for (path, slot, word), n in triples.items():
        num = float(n) * big_n
        den = float(ps[(path, slot)]) * float(sw[(slot, word)])
        if num > 0 and den > 0:
            mi = math.log(num / den)
            if mi > MI_THRESHOLD:
                vec[path][slot][word] = mi
                mi_rows += 1
    sum_mi = {
        (path, slot): sum(v.values())
        for path, slots in vec.items()
        for slot, v in slots.items()
        if v
    }

    pairs = {(min(a, b), max(a, b)) for a, b, _ in gold_rows}
    sims: dict[tuple[str, str], float] = {}
    fanout = 0
    for p1, p2 in pairs:
        if p1 not in vec and p2 not in vec:
            continue  # no member has MI features: no reduce group, no row
        v1 = vec.get(p1, {"X": {}, "Y": {}})
        fanout += sum(len(v) for v in v1.values())
        if p1 == p2:
            sims[(p1, p2)] = 0.0
            continue
        v2 = vec.get(p2, {"X": {}, "Y": {}})
        fanout += sum(len(v) for v in v2.values())
        sim = {}
        for slot in ("X", "Y"):
            a, b = v1[slot], v2[slot]
            small, large = (a, b) if len(a) <= len(b) else (b, a)
            num = sum(small[w] + large[w] for w in small if w in large)
            den = sum_mi.get((p1, slot), 0.0) + sum_mi.get((p2, slot), 0.0)
            sim[slot] = num / den if den > 0 else 0.0
        sims[(p1, p2)] = math.sqrt(sim["X"] * sim["Y"])

    gold: dict[tuple[str, str], int] = {}
    for a, b, label in gold_rows:
        k = (min(a, b), max(a, b))
        gold[k] = max(gold.get(k, 0), label)
    scored = {k: s for k, s in sims.items() if s > 0}
    metrics, labeled = optimal_f1(scored, gold)
    return {
        "sims": [[p1, p2, s] for (p1, p2), s in sorted(sims.items())],
        "metrics": metrics,
        "counts": {
            "lines_in": lines_in,
            "lines_kept": lines_kept,
            "paths_out": paths_out,
            "triples": len(triples),
            "mi_rows": mi_rows,
            "sum_mi_rows": len(sum_mi),
            "phrase_lines": phrase_lines,
            "pairs_compiled": len(gold_rows),
            "pairs_canonical": len(pairs),
            "pairs_emitted": len(sims),
            "pairs_nonzero": len(scored),
            "fanout_rows": fanout,
            "labeled": labeled,
        },
    }


def optimal_f1(
    scored: dict[tuple[str, str], float], gold: dict[tuple[str, str], int]
) -> tuple[dict, int]:
    """Cumulative scan in (score desc, p1, p2) order; the best prefix by
    F1, ties to the higher score (evaluate_dirt.py's strict update)."""
    total_pos = sum(1 for label in gold.values() if label == 1)
    labeled = sorted(
        ((-s, k[0], k[1], gold[k]) for k, s in scored.items() if k in gold)
    )
    best = None
    tp = fp = 0
    for neg_score, _, _, label in labeled:
        tp += label
        fp += 1 - label
        prec = tp / (tp + fp) if tp + fp > 0 else 0.0
        rec = tp / float(max(total_pos, 1))
        f1 = 2 * prec * rec / (prec + rec) if prec + rec > 0 else 0.0
        if best is None or f1 > best["f1"]:
            best = {"threshold": -neg_score, "precision": prec, "recall": rec, "f1": f1}
    if best is None:
        best = {"threshold": 0.0, "precision": 0.0, "recall": 0.0, "f1": 0.0}
    best["pairs_found"] = len(scored)
    return best, len(labeled)


def load_or_compute(paths: dict, workers: int = 1) -> dict:
    """The reference for one generated input set, cached beside it."""
    cached = os.path.join(paths["dir"], "reference.json")
    if os.path.exists(cached):
        with open(cached, encoding="utf-8") as f:
            return json.load(f)
    ref = compute(paths["corpus"], paths["pos"], paths["neg"], workers)
    tmp = cached + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(ref, f)
    os.replace(tmp, cached)
    return ref


def _part_lines(d: str) -> list[str]:
    out = []
    for part in sorted(glob.glob(os.path.join(d, "part-*"))):
        with open(part, encoding="utf-8") as f:
            out += f.read().splitlines()
    return out


def check_outputs(out_dir: str, ref: dict) -> list[str]:
    """Problems found in one CLI output directory; empty means correct."""
    problems = []
    for name in ("similarities.tsv", "mi.tsv", "sum_mi.tsv", "pr_curve.csv"):
        if not os.path.exists(os.path.join(out_dir, name, "_SUCCESS")):
            problems.append(f"{name}: missing or incomplete")
    for name in ("metrics.json", "report.md"):
        if not os.path.isfile(os.path.join(out_dir, name)):
            problems.append(f"{name}: missing")
    if problems:
        return problems

    expected = {(p1, p2): s for p1, p2, s in ref["sims"]}
    got: dict[tuple[str, str], float] = {}
    for line in _part_lines(os.path.join(out_dir, "similarities.tsv")):
        fields = line.split("\t")
        if len(fields) != 3:
            problems.append(f"similarities.tsv: bad row {line!r}")
            continue
        try:
            got[(fields[0], fields[1])] = float(fields[2])
        except ValueError:
            problems.append(f"similarities.tsv: bad score {line!r}")
    if set(got) != set(expected):
        missing, extra = len(set(expected) - set(got)), len(set(got) - set(expected))
        problems.append(f"similarities.tsv: {missing} pairs missing, {extra} extra")
    bad = [
        k for k in set(got) & set(expected)
        if not math.isclose(got[k], expected[k], rel_tol=REL_TOL, abs_tol=0.0)
    ]
    if bad:
        k = bad[0]
        problems.append(
            f"similarities.tsv: {len(bad)} scores differ, e.g. {k}: "
            f"{got[k]!r} != {expected[k]!r}"
        )

    with open(os.path.join(out_dir, "metrics.json"), encoding="utf-8") as f:
        metrics = json.load(f)
    want = ref["metrics"]
    for key in ("precision", "recall", "f1", "pairs_found"):
        if metrics.get(key) != want[key]:
            problems.append(f"metrics.json: {key} {metrics.get(key)!r} != {want[key]!r}")
    if not math.isclose(
        metrics.get("threshold", math.nan), want["threshold"], rel_tol=REL_TOL
    ):
        problems.append(
            f"metrics.json: threshold {metrics.get('threshold')!r} != {want['threshold']!r}"
        )

    counts = ref["counts"]
    for name, key, header in (
        ("mi.tsv", "mi_rows", 0),
        ("sum_mi.tsv", "sum_mi_rows", 0),
        ("pr_curve.csv", "labeled", 1),
    ):
        rows = len(_part_lines(os.path.join(out_dir, name))) - header
        if rows != counts[key]:
            problems.append(f"{name}: {rows} rows, expected {counts[key]}")
    return problems
