"""Every module under brontes_spark/ is reachable from an entry point.

The entry points are the CLI (``brontes_spark/cli.py``), the driver contract
(``__spark_entry__.py``, which pulls in the query registry) and the benchmark
(the non-test ``perfbench/*.py``). The closure is static: an ``ast`` walk over
every ``import``/``from`` statement, including the lazy imports inside
functions. A module outside it is code that only tests run; delete it, or
give it a caller.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "brontes_spark"


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every .py under brontes_spark/."""
    mods = {}
    for root, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            parts = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = path
    return mods


def _root_files() -> list[str]:
    """The driver contract and the benchmark; the CLI enters as a module
    because its relative imports need a package."""
    bench = os.path.join(REPO, "perfbench")
    return [
        os.path.join(REPO, "__spark_entry__.py"),
        *(
            os.path.join(bench, f)
            for f in sorted(os.listdir(bench))
            if f.endswith(".py") and not f.startswith("test_")
        ),
    ]


def _imported_names(path: str, package: str | None) -> set[str]:
    """Dotted names a file may import: each ``import a.b``, each ``from a
    import b`` base and base.b (b may be a submodule), relative ones resolved
    against ``package``."""
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if package is None:
                    continue
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1])
                if node.module:
                    base += "." + node.module
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _closure(mods: dict[str, str]) -> set[str]:
    seen: set[str] = set()
    todo: list[tuple[str, str | None]] = [(p, None) for p in _root_files()]

    def visit(name: str) -> None:
        parts = name.split(".")
        # importing a.b.c also runs a/__init__ and a/b/__init__
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in mods and mod not in seen:
                seen.add(mod)
                is_pkg = mods[mod].endswith("__init__.py")
                todo.append((mods[mod], mod if is_pkg else mod.rpartition(".")[0]))

    visit(f"{PKG}.cli")
    while todo:
        path, package = todo.pop()
        for name in _imported_names(path, package):
            visit(name)
    return seen


def test_every_package_module_is_reachable_from_an_entry_point():
    mods = _package_modules()
    unreachable = sorted(set(mods) - _closure(mods))
    assert not unreachable, f"modules no entry point imports: {unreachable}"
