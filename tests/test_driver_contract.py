"""Invariants of the driver-facing contract surface: query order,
oracle coverage, and the docs derived from the registry."""

from __future__ import annotations

import ast
import pathlib
import re

from kafka_streams_pipeline_spark import inventory


def test_entry_queries_follow_registry_order():
    import __spark_entry__ as entrymod

    keys = list(entrymod.queries())
    assert keys == list(inventory.QUERIES)
    assert list(entrymod.oracle_sql()) == keys


def test_every_query_has_an_oracle():
    missing = set(inventory.QUERIES) - set(inventory.ORACLES)
    assert not missing, f"rows-only queries (weaker driver check): {missing}"


def test_bench_queries_are_registered():
    assert set(inventory.BENCH_QUERIES) <= set(inventory.QUERIES)


def test_readme_query_count_matches_inventory():
    """ADVICE r4: docs counts drift when queries are added — pin the
    README's stated query count to the registry so the suite fails
    loudly instead of shipping stale numbers."""
    readme = pathlib.Path(__file__).parent.parent / "README.md"
    text = readme.read_text()
    stated = {int(m) for m in re.findall(r"(\d+)\s+(?:entries|queries)", text)}
    assert stated == {len(inventory.QUERIES)}, (
        f"README states query counts {sorted(stated)}; registry has "
        f"{len(inventory.QUERIES)}"
    )


def test_registry_md_matches_generated():
    """REGISTRY.md drift check (VERDICT r9 item 7): at 200+ rows the
    checked-in registry index IS the discovery surface — it must
    equal what tools/gen_registry.py would write from the live
    registry, byte for byte (stale certified flags and missing rows
    both fail here instead of aging silently)."""
    import sys

    repo = pathlib.Path(__file__).parent.parent
    sys.path.insert(0, str(repo / "tools"))
    try:
        import gen_registry
    finally:
        sys.path.pop(0)

    checked_in = (repo / "REGISTRY.md").read_text()
    assert checked_in == gen_registry.render(), (
        "REGISTRY.md is stale — run `python tools/gen_registry.py` "
        "and commit the result"
    )


_SCOPES = (
    ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda
)
_NOQA_F401 = re.compile(r"#\s*noqa:[^\n]*\bF401\b")


def _unused_imports(path: pathlib.Path) -> list[str]:
    """Imports whose enclosing scope (module, function, class or
    lambda, nested scopes included) never reads the bound name.
    ``__all__`` entries count as reads; a ``# noqa: F401`` on the
    statement exempts it."""
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src)
    parent = {
        child: node for node in ast.walk(tree) for child in ast.iter_child_nodes(node)
    }
    reads: dict[ast.AST, set[str]] = {}
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, (ast.Import, ast.ImportFrom)):
            continue
        if getattr(node, "module", None) == "__future__" or any(
            _NOQA_F401.search(line) for line in lines[node.lineno - 1 : node.end_lineno]
        ):
            continue
        scope = parent[node]
        while not isinstance(scope, _SCOPES):
            scope = parent[scope]
        if scope not in reads:
            names = reads[scope] = set()
            for n in ast.walk(scope):
                if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                    names.add(n.id)
                elif isinstance(n, ast.Assign) and any(
                    isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
                ):
                    names.update(
                        c.value
                        for c in ast.walk(n.value)
                        if isinstance(c, ast.Constant)
                    )
        for alias in node.names:
            bound = (alias.asname or alias.name).split(".")[0]
            if bound != "*" and bound not in reads[scope]:
                found.append(f"{node.lineno}: {bound}")
    return found


def test_no_unused_imports():
    """The repo has no linter, so dead imports left by deletions are
    caught here: every import outside ``__init__.py`` re-exports must
    be read in the scope that binds it."""
    repo = pathlib.Path(__file__).parent.parent
    found = [
        f"{path.relative_to(repo)}:{hit}"
        for top in ("kafka_streams_pipeline_spark", "tools", "tests")
        for path in sorted((repo / top).rglob("*.py"))
        if path.name != "__init__.py"
        for hit in _unused_imports(path)
    ]
    assert not found, "unused imports:\n" + "\n".join(found)
