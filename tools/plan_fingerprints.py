"""Per-query ANALYZED-plan fingerprints — the machine check for the
driver-window contract's second failure mode.

The contract (plans/queries.py): a query may sit in the deferred tail
only while its code is UNCHANGED since its last driver-green row.  The
"never had a row" mode is computed from the committed CORRECTNESS files
(tests/test_oracle_all.py); this module closes the "changed since its
row" mode: the committed ``tests/plan_fingerprints.json`` snapshots a
canonical hash of every query's analyzed logical plan, and
``tests/test_oracle_all.py::test_deferred_plans_unchanged`` fails if a
deferred query's current plan no longer matches — "edited an operator,
forgot to rotate its queries into the window" becomes a test failure,
not a judge finding.

Why the ANALYZED plan (pre-optimization): it reflects the user code
directly, and the optimizer is where cross-session nondeterminism lives
(observed: RewriteDistinctAggregates orders two countDistinct rewrites
by hash-set iteration).  Canonicalization strips the remaining
session-dependent counters: expression ids (``#123``), lambda variable
ids (``lambda x_17#``), CTE definition ids (``CTERelationDef 3``).

A change INSIDE a Python UDF body does not alter the plan text, so the
snapshot additionally records a source hash of every UDF-bearing module
(``UDF_SOURCE_FILES``) under the ``__udf_sources__`` key — an edit to
any of them fails the same test with the module named, coarser than the
per-query plan check but closing the blind spot.  Plan-shape changes,
new columns, changed literals, reordered stages: caught per query.

Regenerate (after every rotation, or when a PRIORITY query's plan
legitimately changes):  python tools/plan_fingerprints.py
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SNAPSHOT = os.path.join(_REPO, "tests", "plan_fingerprints.json")
# Same derivation as tests/conftest.py, so the fingerprint check runs
# against whatever corpus the test run uses (ADVICE r8: a hard-coded
# path broke the suite on machines with the corpus elsewhere).  The
# fingerprints themselves are sf-dir-INDEPENDENT: no analyzed plan
# embeds the parquet path (measured 0/126 queries — relations print as
# `Relation [cols] parquet`), and the schema is identical across dirs.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

#: modules whose Python-UDF bodies execute OUTSIDE the plan text —
#: grep-maintained: every file whose pandas_udf/mapInPandas/
#: applyInPandas match is real code, not a docstring (the plans/
#: queries_*.py matches are docstring mentions; their UDF bodies live
#: in these operator modules)
UDF_SOURCE_FILES = [
    "dirt_hadoop_similarity_spark/operators/_extraction_udf.py",
    "dirt_hadoop_similarity_spark/operators/multimodal.py",
    "dirt_hadoop_similarity_spark/operators/similarity.py",
    "dirt_hadoop_similarity_spark/streaming/events.py",
]


def udf_source_hashes() -> dict[str, str]:
    out = {}
    for rel in UDF_SOURCE_FILES:
        with open(os.path.join(_REPO, rel), "rb") as f:
            out[rel] = hashlib.sha256(f.read()).hexdigest()[:16]
    return out


def canonical_plan(df) -> str:
    """The analyzed logical plan with session-dependent counters
    stripped (expression ids, lambda variable ids, CTE ids)."""
    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"#\d+L?", "#", s)
    s = re.sub(r"\blambda ([A-Za-z]+)_\d+#", r"lambda \1#", s)
    s = re.sub(r"\bCTERelation(Def|Ref) \d+", r"CTERelation\1 N", s)
    # partition counts derive from the session's parallelism (operators
    # size repartitions off defaultParallelism), not from query code
    s = re.sub(r"\bRepartition \d+", "Repartition N", s)
    s = re.sub(r"\bRepartitionByExpression (\[[^\]]*\]), \d+",
               r"RepartitionByExpression \1, N", s)
    s = re.sub(r"splits=Some\(\d+\)", "splits=Some(N)", s)
    return s


def fingerprint(df) -> str:
    return hashlib.sha256(canonical_plan(df).encode()).hexdigest()[:16]


def compute_all(spark, sf_dir: str = SF_DIR) -> dict[str, str]:
    from dirt_hadoop_similarity_spark.plans.queries import ordered_registry

    reg = ordered_registry()
    return {name: fingerprint(q.fn(spark, sf_dir)) for name, q in reg.items()}


def main() -> None:
    from dirt_hadoop_similarity_spark.session import get_spark

    spark = get_spark(app_name="dhs-plan-fingerprints", master="local[8]",
                      shuffle_partitions=8)
    fps = compute_all(spark)
    spark.stop()
    fps["__udf_sources__"] = udf_source_hashes()
    with open(SNAPSHOT, "w") as f:
        json.dump(fps, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(fps) - 1} fingerprints + "
          f"{len(fps['__udf_sources__'])} UDF source hashes to {SNAPSHOT}")


if __name__ == "__main__":
    main()
