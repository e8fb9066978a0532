"""Every top-level package definition is reachable from code that runs.

The roots are what a user or the driver actually executes: the module-level
statements of every package module (they run on import), every definition of
the DIRT CLI (``__main__.py``), the curation CLI (``curate.py``) and the
query registry (``plans/queries*.py``), plus ``__spark_entry__.py``,
``bench.py`` and ``perfbench/*.py``.  From there the walk follows
identifiers (``Name`` ids, ``Attribute`` attrs and import aliases; never
strings, docstrings or comments) through top-level functions and classes
until nothing new is found.  Tests and ``tools/`` are not roots: a test or a
measurement of dead code does not make it live.

The walk is name-based, so it over-approximates what is reachable; a
definition it reports is called by nothing that runs.  Pure ``ast``, no Spark.
"""
import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "dirt_hadoop_similarity_spark"

# The reference evaluator's input loader: the golden-file test reads the
# reference's outputs through it, and nothing in the job needs it.
ALLOWED_UNREACHED = {"plans/evaluate.py::load_system_output"}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _identifiers(nodes):
    found = set()
    for root in nodes:
        for node in ast.walk(root):
            if isinstance(node, ast.Name):
                found.add(node.id)
            elif isinstance(node, ast.Attribute):
                found.add(node.attr)
            elif isinstance(node, ast.alias):
                found.add(node.name.rsplit(".", 1)[-1])
                if node.asname:
                    found.add(node.asname)
    return found


def _is_root_module(rel):
    return rel in ("__main__.py", "curate.py") or (
        rel.startswith("plans/queries") and rel.endswith(".py"))


def unreached_definitions():
    """``{"<module path>::<name>"}`` of package definitions nothing reaches."""
    defs = {}       # key -> definition node
    by_name = {}    # name -> keys defining it
    frontier = []   # nodes whose identifiers are live
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        tree = ast.parse(path.read_text(), filename=str(path))
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                key = f"{rel}::{stmt.name}"
                defs[key] = stmt
                by_name.setdefault(stmt.name, []).append(key)
                if _is_root_module(rel):
                    frontier.append(stmt)
            else:
                frontier.append(stmt)
    extra = [REPO / "__spark_entry__.py", REPO / "bench.py",
             *sorted((REPO / "perfbench").glob("*.py"))]
    frontier += [ast.parse(p.read_text(), filename=str(p)) for p in extra]

    seen_names, reached = set(), set()
    while frontier:
        names = _identifiers(frontier) - seen_names
        seen_names |= names
        frontier = []
        for name in names:
            for key in by_name.get(name, ()):
                if key not in reached:
                    reached.add(key)
                    frontier.append(defs[key])
    roots = {k for k in defs if _is_root_module(k.split("::")[0])}
    return set(defs) - reached - roots


def test_every_package_definition_is_reached():
    assert unreached_definitions() == ALLOWED_UNREACHED


if __name__ == "__main__":
    for key in sorted(unreached_definitions()):
        print(key)
