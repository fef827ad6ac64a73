"""Every package module, and every top-level package function, class and
assignment, is reachable from something that runs, and every import a
package module makes is read (no Spark).

The roots are what a user or the benchmark executes: the CLI, the Spark
entry file, the query registry, ``bench.py`` and ``perfbench/``. A module
or definition that only tests use is code nobody runs; these ``ast``
walks name any such one so it is deleted rather than left to grow.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "kafka_firehose_nozzle_spark"
ROOTS = [
    PKG / "cli.py",
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "queries").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]


def _module_name(path: pathlib.Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _source(name: str) -> pathlib.Path | None:
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _imported_names(path: pathlib.Path):
    """Dotted names each import statement may load, at any nesting
    depth (function-level imports count); ``from a import b`` yields
    both ``a`` and ``a.b`` since ``b`` may be a submodule."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def _reachable() -> set[str]:
    seen: set[str] = set()
    todo = list(ROOTS)
    while todo:
        path = todo.pop()
        name = _module_name(path)
        if name in seen:
            continue
        seen.add(name)
        for imported in _imported_names(path):
            parts = imported.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                src = _source(".".join(parts[:i]))
                if src is not None:
                    todo.append(src)
    return seen


def test_every_package_module_is_reachable_from_a_root():
    modules = {
        _module_name(p) for p in PKG.rglob("*.py") if p.name != "__init__.py"
    }
    orphans = sorted(modules - _reachable())
    assert not orphans, (
        "package modules that cli.py, __spark_entry__.py, queries/, "
        f"bench.py and perfbench/ never import: {orphans}"
    )


# Top-level definitions that no root reaches but tests need, each with
# its reason; everything else a root never reaches is deleted.
KEPT_FOR_TESTS = {
    "kafka_firehose_nozzle_spark.functions.sonde_json.envelopes_from_json":
        "the reference route_topic_from_wire and the sonde-JSON round "
        "trip are compared against",
    "kafka_firehose_nozzle_spark.operators.asof.asof_join_pandas":
        "the pandas reference for asof_join",
    "kafka_firehose_nozzle_spark.sinks.kafka.ssl_context_from_options":
        "turns the TLS sink options into a real handshake in test_kafka_tls",
    "kafka_firehose_nozzle_spark.fixtures.canonical_envelope_df":
        "a test fixture",
}

_FUNC = (ast.FunctionDef, ast.AsyncFunctionDef)
_DEF = (*_FUNC, ast.ClassDef)


def _names(nodes) -> set[str]:
    """Every name the code under ``nodes`` reads, bare or as an
    attribute (``D.simhash`` names ``simhash``)."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _defined(stmt) -> list[str]:
    """The names a top-level statement defines: a function or class, or
    the names an assignment binds."""
    if isinstance(stmt, _DEF):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    ]


def _is_export(stmt) -> bool:
    return isinstance(stmt, (ast.Import, ast.ImportFrom)) or (
        isinstance(stmt, ast.Assign)
        and any(getattr(t, "id", None) == "__all__" for t in stmt.targets)
    )


def test_every_package_definition_is_reachable_from_a_root():
    """A top-level function, class or assigned name is reached when a
    root, a package module's own other top-level code or a reached
    definition names it. Matching is by name, so a name shared with
    anything reached counts as reached: the guard may miss an orphan but
    never flags a definition that runs. ``__init__`` re-exports, imports and
    ``__all__`` do not count."""
    defs: dict[str, list] = {}  # bare name -> [(qualified name, node)]
    todo = _names(ast.parse(p.read_text()) for p in ROOTS)
    for path in PKG.rglob("*.py"):
        if path.name == "__init__.py":
            continue
        module = _module_name(path)
        for stmt in ast.parse(path.read_text()).body:
            if _is_export(stmt):
                continue
            names = _defined(stmt)
            for name in names:
                defs.setdefault(name, []).append((f"{module}.{name}", stmt))
            if not names:
                todo |= _names([stmt])
    qualified = {q: node for ds in defs.values() for q, node in ds}
    assert set(KEPT_FOR_TESTS) <= set(qualified)
    todo |= _names(qualified[q] for q in KEPT_FOR_TESTS)
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        todo |= _names(node for _, node in defs.get(name, ())) - reached
    orphans = sorted(
        q
        for name, ds in defs.items()
        if name not in reached
        for q, _ in ds
        if q not in KEPT_FOR_TESTS
    )
    assert not orphans, (
        "package definitions that no root reaches (delete them, or add "
        f"one to KEPT_FOR_TESTS with its reason): {orphans}"
    )


def _scope_imports(scope):
    """The import statements of ``scope`` outside its nested functions."""
    for child in ast.iter_child_nodes(scope):
        if isinstance(child, (ast.Import, ast.ImportFrom)):
            yield child
        elif not isinstance(child, (*_FUNC, ast.Lambda)):
            yield from _scope_imports(child)


def test_every_package_import_is_read():
    """Each name a package module imports is read in the module, or, for
    an import inside a function, in that function. ``__future__`` imports
    and the ``__init__`` files, whose imports are re-exports and the only
    ``__all__`` lists, are skipped."""
    unread = []
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text())
        scopes = [tree, *(n for n in ast.walk(tree) if isinstance(n, _FUNC))]
        for scope in scopes:
            read = {
                n.id
                for n in ast.walk(scope)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            for imp in _scope_imports(scope):
                if isinstance(imp, ast.ImportFrom) and imp.module == "__future__":
                    continue
                for a in imp.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in read:
                        unread.append(
                            f"{_module_name(path)}:{imp.lineno} {bound}"
                        )
    assert not unread, f"imports their module never reads: {unread}"
