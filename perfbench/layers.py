"""The traced CLI job: each layer's public functions wrapped in spans.

The wrappers sit on the module attributes the CLI and the pipeline call
through, so the traced job is the real ``__main__.main`` run.  Each wrapper
materializes the layer's output at its boundary (cache + count) inside its
span, so the work a lazy DataFrame defers lands in the layer that defined
it and spans do not overlap.  Counters the trace adds (row counts of
cached relations, the fan-out count) run in ``trace.count`` child spans,
which the layer's self time excludes.  Nothing in the package is changed;
every patch is undone when the job returns.
"""

from __future__ import annotations

import contextlib
import io
import os
from contextlib import contextmanager

# layer name -> the span names whose self time is that layer's busy time
LAYER_SPANS = {
    "phrases.compile_s": ("phrases",),
    "biarcs.busy_s": ("biarcs",),
    "extraction.busy_s": ("extraction", "extraction.facts"),
    "counting.triples_s": ("counting.triples",),
    "counting.margins_s": ("counting.margins",),
    "counting.global_n_s": ("counting.global_n",),
    "mi.table_s": ("mi.table",),
    "mi.sum_mi_s": ("mi.sum_mi",),
    "overlap.busy_s": ("overlap",),
    "evaluate.busy_s": ("evaluate",),
    "sinks.write_s": ("sinks",),
}


@contextmanager
def _patched(targets):
    saved = [(obj, name, getattr(obj, name)) for obj, name, _ in targets]
    try:
        for obj, name, fn in targets:
            setattr(obj, name, fn)
        yield
    finally:
        for obj, name, fn in saved:
            setattr(obj, name, fn)


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def traced_job(bench, tracer, out: str) -> dict:
    """Run the CLI once with every layer boundary in a span; returns the
    per-layer metrics as ``{name: (value, unit)}``."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    from dirt_hadoop_similarity_spark.functions import phrases
    from dirt_hadoop_similarity_spark.operators import counting, mi, overlap
    from dirt_hadoop_similarity_spark.plans import evaluate as ev
    from dirt_hadoop_similarity_spark.plans import pipeline

    counts: dict[str, int] = {}
    cached = []

    def materialize(df, key=None):
        df = df.cache()
        cached.append(df)
        n = df.count()
        if key is not None:
            counts[key] = n
        return df

    def wrap(name, fn, key=None):
        def traced(*args, **kwargs):
            with tracer.span(name):
                return materialize(fn(*args, **kwargs), key)

        return traced

    def count_span(df, key):
        with tracer.span("trace.count"):
            counts[key] = df.count()

    orig = {
        "testset_pairs_df": phrases.testset_pairs_df,
        "with_tokens": pipeline.with_tokens,
        "global_n": counting.global_n,
        "similarities": overlap.similarities,
        "evaluate": ev.evaluate,
        "csv": DataFrameWriter.csv,
    }

    def similarities(mi_df, pairs_df, sum_mi_df):
        with tracer.span("overlap"):
            sims = materialize(
                orig["similarities"](mi_df, pairs_df, sum_mi_df), "pairs_emitted"
            )
            count_span(sims.filter(F.col("score") > 0), "pairs_nonzero")
            count_span(overlap.canonical_pairs(pairs_df), "pairs_in")
            members = F.broadcast(
                overlap.pair_members(overlap.canonical_pairs(pairs_df))
            )
            count_span(mi_df.join(members, "path", "inner"), "fanout_rows")
        return sims

    def global_n(triples_df):
        with tracer.span("counting.global_n"):
            return orig["global_n"](triples_df)

    def evaluate(scored, gold_pairs):
        with tracer.span("evaluate"):
            report = orig["evaluate"](scored, gold_pairs)
            report["scan"] = materialize(report["scan"])
            report["samples"] = {
                k: materialize(df) for k, df in report["samples"].items()
            }
        counts["scored_in"] = report["n_scored"]
        return report

    def csv(writer, path, *args, **kwargs):
        # every TSV/CSV file the CLI writes goes through this call, both
        # sinks.write_tsv and the PR-curve export
        with tracer.span("sinks"):
            orig["csv"](writer, path, *args, **kwargs)
        counts["bytes_out"] = counts.get("bytes_out", 0) + _dir_bytes(path)

    targets = [
        (phrases, "testset_pairs_df",
         wrap("phrases", orig["testset_pairs_df"], "pairs_out")),
        (pipeline, "with_tokens", wrap("biarcs", orig["with_tokens"], "lines_kept")),
        (pipeline, "extractions",
         wrap("extraction", pipeline.extractions, "paths_out")),
        (pipeline, "facts", wrap("extraction.facts", pipeline.facts, "facts_in")),
        (counting, "triples",
         wrap("counting.triples", counting.triples, "triples_out")),
        (counting, "word_margins", wrap("counting.margins", counting.word_margins)),
        (counting, "path_margins", wrap("counting.margins", counting.path_margins)),
        (counting, "global_n", global_n),
        (mi, "mi_table", wrap("mi.table", mi.mi_table, "mi_rows")),
        (mi, "sum_mi", wrap("mi.sum_mi", mi.sum_mi)),
        (overlap, "similarities", similarities),
        (ev, "evaluate", evaluate),
        (DataFrameWriter, "csv", csv),
    ]
    inputs = bench.inputs
    argv = [inputs["corpus"], "--testset", inputs["pos"], inputs["neg"],
            "--out", out]
    try:
        with _patched(targets), contextlib.redirect_stdout(io.StringIO()):
            with tracer.span("job"):
                bench.cli.main(argv)
    finally:
        for df in cached:
            df.unpersist()

    selfs = tracer.self_times()
    job_s = tracer.totals()["job"]
    m = {k: (sum(selfs.get(s, 0.0) for s in spans), "s")
         for k, spans in LAYER_SPANS.items()}
    lines_in = _line_count(inputs["corpus"])
    phrase_lines = _line_count(inputs["pos"]) + _line_count(inputs["neg"])
    kept, paths = counts["lines_kept"], counts["paths_out"]
    ext_s = m["extraction.busy_s"][0]
    m.update({
        "trace.job_s": (job_s, "s"),
        "trace.count_s": (selfs.get("trace.count", 0.0), "s"),
        "cli.self_s": (selfs["job"], "s"),
        "biarcs.lines_in": (lines_in, "count"),
        "biarcs.lines_kept": (kept, "count"),
        "biarcs.kept_ratio": (kept / lines_in, "ratio"),
        "extraction.paths_out": (paths, "count"),
        "extraction.paths_per_line": (paths / max(kept, 1), "ratio"),
        "extraction.lines_per_s": (kept / ext_s if ext_s > 0 else 0.0, "1/s"),
        "counting.facts_in": (counts["facts_in"], "count"),
        "counting.triples_out": (counts["triples_out"], "count"),
        "mi.rows_in": (counts["triples_out"], "count"),
        "mi.rows_kept": (counts["mi_rows"], "count"),
        "mi.keep_ratio": (counts["mi_rows"] / max(counts["triples_out"], 1), "ratio"),
        "phrases.lines_in": (phrase_lines, "count"),
        "phrases.pairs_out": (counts["pairs_out"], "count"),
        "phrases.compile_ratio": (counts["pairs_out"] / max(phrase_lines, 1), "ratio"),
        "overlap.pairs_in": (counts["pairs_in"], "count"),
        "overlap.fanout_rows": (counts["fanout_rows"], "count"),
        "overlap.pairs_emitted": (counts["pairs_emitted"], "count"),
        "overlap.pairs_nonzero": (counts["pairs_nonzero"], "count"),
        "overlap.nonzero_ratio": (
            counts["pairs_nonzero"] / max(counts["pairs_emitted"], 1), "ratio"),
        "evaluate.scored_in": (counts["scored_in"], "count"),
        "sinks.bytes_out": (counts.get("bytes_out", 0), "bytes"),
    })
    return m


def _line_count(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)
