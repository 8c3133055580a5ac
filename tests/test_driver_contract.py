"""Invariants of the driver-facing contract surface: query order,
oracle coverage, the docs derived from the registry, and the dead
code (unused imports, options no call sets) a linter would flag."""

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


def _literal(node: ast.expr):
    """``(value,)`` for a literal expression, ``None`` otherwise."""
    try:
        return (ast.literal_eval(node),)
    except (ValueError, TypeError):
        return None


def _passes_default(arg: ast.expr, default: ast.expr, consts: dict) -> bool:
    """Whether a call argument restates the parameter's default: the
    same literal, the module constant the default names (bare or as
    ``module.NAME``), or a literal equal to that constant's value."""
    if isinstance(default, ast.Name) and (
        getattr(arg, "id", None) == default.id
        or getattr(arg, "attr", None) == default.id
    ):
        return True
    want = _literal(consts.get(getattr(default, "id", None), default))
    got = _literal(arg)
    return (
        want is not None
        and got is not None
        and type(got[0]) is type(want[0])
        and got == want
    )


def _unset_options(repo: pathlib.Path) -> list[str]:
    """Optional parameters of package functions that no call in the
    repo sets to a value other than their default. Calls match a
    function by name (through ``import ... as`` aliases); a keyword
    argument sets its parameter, a positional one the parameter at
    its index (methods shift by ``self``). An argument that restates
    the default (see ``_passes_default``) sets nothing. Names defined
    in two modules, and names ever called with ``*``/``**``, are
    skipped."""
    pkg = repo / "kafka_streams_pipeline_spark"
    defs: dict[str, list] = {}
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        consts = {
            t.id: node.value
            for node in tree.body
            if isinstance(node, ast.Assign)
            for t in node.targets
            if isinstance(t, ast.Name)
        }
        parent = {
            child: node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                method = isinstance(parent[node], ast.ClassDef) and not any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in node.decorator_list
                )
                defs.setdefault(node.name, []).append(
                    (path, node, int(method), consts)
                )
    callers = [
        p
        for top in ("kafka_streams_pipeline_spark", "tests", "perfbench", "tools")
        for p in sorted((repo / top).rglob("*.py"))
    ] + [repo / "bench.py", repo / "__spark_entry__.py"]
    calls: dict[str, list[ast.Call]] = {}
    starred: set[str] = set()
    for path in callers:
        tree = ast.parse(path.read_text())
        aliases = {
            a.asname: a.name
            for node in ast.walk(tree)
            if isinstance(node, ast.ImportFrom)
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = getattr(node.func, "id", None)
            name = aliases.get(name, name) or getattr(node.func, "attr", None)
            if name is None:
                continue
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                starred.add(name)
            calls.setdefault(name, []).append(node)
    found = []
    for name, sites in defs.items():
        if name in starred or len({path for path, *_ in sites}) > 1:
            continue
        for path, node, shift, consts in sites:
            a = node.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            optional = [
                (i, p.arg, d)
                for i, (p, d) in enumerate(zip(pos[first:], a.defaults), first)
            ] + [
                (None, p.arg, d)
                for p, d in zip(a.kwonlyargs, a.kw_defaults)
                if d is not None
            ]
            for i, arg, default in optional:
                passed = [
                    k.value
                    for call in calls.get(name, ())
                    for k in call.keywords
                    if k.arg == arg
                ] + [
                    call.args[i - shift]
                    for call in calls.get(name, ())
                    if i is not None and 0 <= i - shift < len(call.args)
                ]
                if all(_passes_default(v, default, consts) for v in passed):
                    where = f"{path.relative_to(repo)}:{node.lineno}"
                    found.append(f"{where} {name}({arg}=)")
    return found


def test_every_option_is_set_by_some_call():
    """An optional parameter that no call in the repo sets to another
    value than its default is a knob with one value: it belongs in
    the function body (or a module constant), not in the signature
    and its oracle twin. Calls in tests, perfbench, tools, bench.py
    and the driver entry count as setting it; a call that passes the
    default does not."""
    found = _unset_options(pathlib.Path(__file__).parent.parent)
    assert not found, "optional parameters no call sets:\n" + "\n".join(found)
