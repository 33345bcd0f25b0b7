"""Every engine module is reachable from an entry point.

An entry point is a file a user, the driver or the benchmark runs directly:
the CLI, the driver contract, the client library, ``bench.py`` and the
``perfbench`` scripts. The test follows ``import`` statements through the
AST from those files, transitively (imports inside functions count), and
asserts that the walk reaches every ``jetstream_spark`` module. A module it
does not reach is dead code: delete it, or wire it into an entry point.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "jetstream_spark"


def _entry_files() -> list[str]:
    files = [
        os.path.join(ROOT, PACKAGE, "__main__.py"),
        os.path.join(ROOT, "__spark_entry__.py"),
        os.path.join(ROOT, PACKAGE, "client.py"),
        os.path.join(ROOT, "bench.py"),
    ]
    return files + sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))


def _module_of(path: str) -> str | None:
    """The dotted module name of a package file, None outside the package."""
    rel = os.path.relpath(path, ROOT)
    if not rel.startswith(PACKAGE + os.sep):
        return None
    parts = rel[: -len(".py")].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file, for every module of the package."""
    paths = glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)
    return {_module_of(p): p for p in paths}


def _imported_names(path: str) -> set[str]:
    """Every dotted name an import in the file could load, with the
    packages that loading it runs first."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    here = _module_of(path)
    is_pkg = os.path.basename(path) == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if here is None:
                    continue
                pkg = here.split(".") if is_pkg else here.split(".")[:-1]
                pkg = pkg[: len(pkg) - (node.level - 1)]
                base = ".".join(pkg + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    with_parents = set()
    for name in names:
        parts = name.split(".")
        with_parents.update(".".join(parts[: i + 1]) for i in range(len(parts)))
    return with_parents


def reachable_modules() -> set[str]:
    mods = _package_modules()
    todo = _entry_files() + [mods[PACKAGE]]  # every entry runs the package __init__
    seen = {m for m in map(_module_of, todo) if m is not None}
    while todo:
        for name in _imported_names(todo.pop()):
            if name in mods and name not in seen:
                seen.add(name)
                todo.append(mods[name])
    return seen


def test_every_engine_module_is_reached_from_an_entry_point():
    unreached = sorted(set(_package_modules()) - reachable_modules())
    assert not unreached, f"no entry point imports these modules: {unreached}"
