"""Every top-level engine definition is reachable from a production entry
point, not only from tests.

A pure AST pass, no Spark session. The roots are the scripts that ship the
engine (the CLI, the ``__spark_entry__`` query contract, the benchmarks
and the campaign worker). From their code, every referenced name marks the engine
definitions of that name as reached, and each reached definition's own
body is followed in turn. Resolution is by name, not by module, so a name
shared by two definitions reaches both: the pass may miss dead code, but it
never reports live code. String constants count as references, because
``perfbench/spans.patch_engine`` looks engine functions up with ``getattr``.

A definition that only tests reach either gets a caller in a root or is
deleted. The few kept on purpose are on ``ALLOWED_TEST_ONLY``, each with
its reason.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE = ROOT / "e2e_el_spark"
ROOTS = [
    ROOT / "run_el_job.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / "bench_extra.py",
    ENGINE / "bench_worker.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]

ALLOWED_TEST_ONLY = {
    "metrics.labeled_same_block_pairs":
        "pair-table reference that pairwise_f1_from_counts is checked against",
    "functions.char_ngrams_all_expr":
        "old-form reference for the n-gram expression in test_r06_optimizations",
    "session.stop_spark":
        "the verify skill tells readers to call it between two sessions",
}


def _refs(tree) -> set:
    """Names an AST fragment refers to: identifiers, attribute names, and
    identifier-shaped string constants. Import statements are not uses (an
    imported name is an ``alias`` node, not a ``Name``)."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _defined_names(stmt) -> list:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _module_key(path: Path) -> str:
    rel = path.relative_to(ENGINE).with_suffix("")
    parts = [p for p in rel.parts if p not in ("operators", "sources", "__init__")]
    return ".".join(parts) or "e2e_el_spark"


def _unreached_names() -> list:
    """Qualified names (``module.name``) of the engine's top-level
    definitions that no root reaches."""
    defs = {}  # qualified name -> (bare name, statement)
    roots = set()
    for path in sorted(ENGINE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for stmt in tree.body:
            names = _defined_names(stmt)
            if path == ENGINE / "bench_worker.py" or not names:
                # module-level code runs on import: its references are live
                roots |= _refs(stmt)
                continue
            for name in names:
                defs[f"{_module_key(path)}.{name}"] = (name, stmt)
    for path in ROOTS:
        roots |= _refs(ast.parse(path.read_text(), str(path)))

    by_name = {}
    for qual, (name, _) in defs.items():
        by_name.setdefault(name, []).append(qual)
    seen, frontier = set(), list(roots)
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        for qual in by_name.get(name, ()):
            frontier.extend(_refs(defs[qual][1]))
    return sorted(qual for qual, (name, _) in defs.items() if name not in seen)


def test_every_engine_definition_has_a_production_caller():
    unreached = set(_unreached_names())
    stale = sorted(set(ALLOWED_TEST_ONLY) - unreached)
    offenders = sorted(unreached - set(ALLOWED_TEST_ONLY))
    assert not offenders, (
        f"{len(offenders)} engine definitions are reached only from tests "
        f"(give each a caller or delete it): {offenders}")
    assert not stale, f"allow-list entries now have a caller or are gone: {stale}"
