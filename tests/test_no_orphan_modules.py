"""Every package module is reachable from something that runs (no Spark).

The roots are what a user or the benchmark executes: the CLI, the Spark
entry file, the query registry, ``bench.py`` and ``perfbench/``. A module
that only tests import is code nobody runs; this ``ast`` import walk names
any such module so it is deleted rather than left to grow.
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
